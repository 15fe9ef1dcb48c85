package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{HmacSha256, VectorFunctions}
import graft.operators.TextAnalysis

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("hmac_sha256 matches RFC 4231 test case 2") {
    val out = Seq(("Jefe", "what do ya want for nothing?")).toDF("k", "d")
      .select(HmacSha256.hmac_sha256(col("k"), col("d"))).head().getString(0)
    assert(out === "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843")
  }

  test("hmac_sha256 registers for SQL use") {
    GraftExtensions.register(spark)
    val out = spark.sql(
      "SELECT hmac_sha256('Jefe', 'what do ya want for nothing?') AS s").head().getString(0)
    assert(out === "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843")
  }

  test("hmac_sha256 is null-safe and type-checked") {
    val out = Seq((null.asInstanceOf[String], "data")).toDF("k", "d")
      .select(HmacSha256.hmac_sha256(col("k"), col("d"))).head()
    assert(out.isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1, 2)).toDF("k", "d")
        .select(HmacSha256.hmac_sha256(col("k"), col("d"))).collect()
    }
  }

  test("requestSignature sorts params like the reference signer (S11)") {
    val sig1 = HmacSha256.requestSignature("s", "/path", Map("b" -> "2", "a" -> "1"))
    val sig2 = HmacSha256.requestSignature("s", "/path", Map("a" -> "1", "b" -> "2"))
    assert(sig1 === sig2)
    assert(sig1.length === 64)
  }

  test("jaro_winkler matches the DuckDB-pinned fixtures (incl. classic Winkler cases)") {
    // Values verified against DuckDB jaro_winkler_similarity verbatim.
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("", "", 0.0),
      ("a", "b", 0.0),
      ("ab", "ba", 0.0),         // window 0: no cross-position matches
      ("CRANE", "ACRE", 0.7833333333333333)) // j > 0.7 but prefix ℓ = 0
    for ((a, b, expect) <- cases) {
      val got = Seq((a, b)).toDF("a", "b")
        .select(graft.functions.JaroWinklerSim.jaro_winkler(col("a"), col("b")))
        .head().getDouble(0)
      assert(got === expect, s"jw($a, $b)")
    }
    // SQL registration + null safety.
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT jaro_winkler('MARTHA', 'MARHTA') AS s")
      .head().getDouble(0) === 0.9611111111111111)
    assert(Seq((null.asInstanceOf[String], "x")).toDF("a", "b")
      .select(graft.functions.JaroWinklerSim.jaro_winkler(col("a"), col("b")))
      .head().isNullAt(0))
  }

  test("cosine: orthogonal → 0, identical → 1") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
    ).toDF("a", "b").select(VectorFunctions.cosine(
      VectorFunctions.asDoubles(col("a")), VectorFunctions.asDoubles(col("b"))).as("c"))
    val got = df.collect().map(_.getDouble(0))
    assert(math.abs(got(0)) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
  }

  test("hyperplane signature: deterministic, scale-invariant (sign-based)") {
    val df = Seq(
      (1L, Array(0.3f, -0.7f, 0.2f)),
      (2L, Array(0.6f, -1.4f, 0.4f)), // same direction, 2x magnitude
    ).toDF("id", "v").select(col("id"),
      VectorFunctions.hyperplaneSignature(
        VectorFunctions.asDoubles(col("v")), 16).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L).length === 16)
  }

  test("rollingHash is order-sensitive, fingerprint is not") {
    val df = Seq("alpha beta gamma", "gamma beta alpha").toDF("t").select(
      TextAnalysis.rollingHash(col("t")).as("rh"),
      TextAnalysis.fingerprint(concat_ws(" ",
        array_sort(split(col("t"), " ")))).as("fp"))
    val rows = df.collect()
    assert(rows(0).getLong(0) !== rows(1).getLong(0))
    assert(rows(0).getString(1) === rows(1).getString(1))
  }

  test("langId picks the profile with most stopword hits; und when none") {
    val df = Seq(
      "the cat is in the house and it is warm",
      "der hund ist nicht mit der katze auf das",
      "xyzzy plugh qwerty",
    ).toDF("text").select(TextAnalysis.langId(col("text")).as("l"))
    assert(df.collect().map(_.getString(0)) === Array("en", "de", "und"))
  }

  test("piiRedact scrubs emails and phones; piiCounts tallies them") {
    val df = Seq("mail bob.smith@corp.io or call 555-1234 x2, cc a@b.cz")
      .toDF("t")
    val counts = TextAnalysis.piiCounts(col("t")).toMap
    val row = df.select(TextAnalysis.piiRedact(col("t")).as("s"),
      counts("email").as("ne"), counts("phone").as("np")).head()
    assert(row.getString(0) === "mail [EMAIL] or call [PHONE] x2, cc [EMAIL]")
    assert(row.getLong(1) === 2 && row.getLong(2) === 1)
  }

  test("repetitionStats: max bigram share; short docs drop out") {
    val df = Seq((1L, "a b a b a b"), (2L, "one")).toDF("id", "text")
    val rows = TextAnalysis.repetitionStats(df, "id", "text", 2).collect()
    assert(rows.length === 1) // doc 2 has no bigrams
    val r = rows.head
    // grams: "a b","b a","a b","b a","a b" → 5 total, "a b" ×3
    assert(r.getAs[Long]("n_grams") === 5 && r.getAs[Long]("max_rep") === 3)
    assert(math.abs(r.getAs[Double]("rep_ratio") - 0.6) < 1e-12)
  }
}
