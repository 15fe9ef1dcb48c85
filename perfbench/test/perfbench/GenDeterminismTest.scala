package perfbench

/** The generator is a pure function of the seed: the same seed gives
  * byte-identical ETL pages, TikTok documents and curation batches, and
  * another seed gives different ones. Exits non-zero on failure.
  *
  * Run: python3 perfbench/run.py --selftest
  */
object GenDeterminismTest {

  private def bytes(seed: Long): Seq[String] =
    (0 until 3).flatMap { c =>
      val w = Gen.etlWindow(seed, c)
      Gen.Endpoints.flatMap(w.pages) ++ w.tiktok
    } ++ (0 until 3).flatMap(b => Gen.curationBatch(seed, b).map(d => s"${d.docId}\t${d.text}"))

  def main(args: Array[String]): Unit = {
    val failures = Seq(
      "same seed, same inputs" -> (bytes(7) == bytes(7)),
      "another seed, other inputs" -> (bytes(7) != bytes(8)),
      "every window has a fixed size" -> Seq(7L, 8L).forall(s =>
        Gen.etlWindow(s, 2).pages.values.forall(_.size == Gen.EtlShape().fresh + Gen.EtlShape().redelivered)),
      "doc ids are unique across batches" -> {
        val ids = (0 until 4).flatMap(b => Gen.curationBatch(7, b).map(_.docId))
        ids.distinct.size == ids.size
      }
    ).filterNot(_._2).map(_._1)
    failures.foreach(f => println(s"FAILED: $f"))
    println(if (failures.isEmpty) "generator determinism: ok" else "generator determinism: FAILED")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
