package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator. Every input the program receives is built here
  * from the workload seed (MISA pages, TikTok documents, curation
  * micro-batches) or from the fixed [[DatasetSeed]] (the query tables, so
  * the stored result fingerprints stay valid). The same seed always yields
  * byte-identical inputs; sizes are fixed by the shapes below so that work
  * per operation does not depend on the seed, only content does.
  */
object Gen {

  /** Seed of the query-table dataset; the query workloads use the workload
    * seed only to shuffle the query order.
    */
  val DatasetSeed = 20240601L

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  private def esc(s: String): String = "\"" + s + "\""

  // ---------------------------------------------------------------- ETL --

  /** One ETL window per endpoint: `fresh` new keys, `redelivered` keys
    * already delivered in an earlier window (the lookback overlap; in the
    * first window they repeat keys of the same window), and `malformed` of
    * the fresh records carry a numeric string that try_cast rejects.
    */
  final case class EtlShape(fresh: Int = 100, redelivered: Int = 20,
      malformed: Int = 10, tiktokFresh: Int = 40, tiktokRedelivered: Int = 8,
      tiktokItems: Int = 2) {
    def redeliveryShare: Double = redelivered.toDouble / (fresh + redelivered)
    def malformedShare: Double = malformed.toDouble / fresh
  }

  val Endpoints: Seq[String] = Seq("misa_sale_orders_flattened",
    "misa_customers", "misa_contacts", "misa_stocks", "misa_products")

  /** Column that carries the planted malformed value, per staged table. */
  val MalformedColumn: Map[String, String] = Map(
    "misa_sale_orders_flattened" -> "item_price",
    "misa_customers" -> "annual_revenue",
    "misa_contacts" -> "total_score",
    "misa_stocks" -> "created_date",
    "misa_products" -> "unit_price",
    "tiktok_shop_orders" -> "total_amount")

  /** Sale-order line count is a pure function of the order key, so the
    * committed row count per window does not depend on the seed.
    */
  def saleOrderItems(orderKey: Long): Int = 1 + (orderKey % 4).toInt

  final case class EtlWindow(pages: Map[String, Seq[String]], tiktok: Seq[String])

  /** Window `cycle` of the seeded ETL stream. */
  def etlWindow(seed: Long, cycle: Int, shape: EtlShape = EtlShape()): EtlWindow = {
    val pages = Endpoints.zipWithIndex.map { case (ep, i) =>
      val r = rng(seed, 1000L * cycle + i)
      val keys = windowKeys(r, cycle, shape.fresh, shape.redelivered)
      val bad = pickSet(r, shape.fresh, shape.malformed)
        .map(_ + cycle.toLong * shape.fresh)
      ep -> keys.map(k => misaRecord(ep, r, k, cycle, bad.contains(k)))
    }.toMap
    val r = rng(seed, 1000L * cycle + 99)
    val tk = windowKeys(r, cycle, shape.tiktokFresh, shape.tiktokRedelivered)
    val bad = pickSet(r, shape.tiktokFresh, shape.malformed / 2)
      .map(_ + cycle.toLong * shape.tiktokFresh)
    EtlWindow(pages, tk.map(k => tiktokDoc(r, k, cycle, shape.tiktokItems, bad.contains(k))))
  }

  /** Fresh keys [cycle·fresh, (cycle+1)·fresh) plus `redelivered` earlier
    * keys, shuffled.
    */
  private def windowKeys(r: SplittableRandom, cycle: Int, fresh: Int,
      redelivered: Int): Seq[Long] = {
    val lo = cycle.toLong * fresh
    val freshKeys = (0 until fresh).map(lo + _)
    val pool = if (cycle == 0) fresh.toLong else lo
    val again = (0 until redelivered).map(_ => r.nextLong(pool) + (if (cycle == 0) lo else 0L))
    shuffle(r, freshKeys ++ again)
  }

  private def pickSet(r: SplittableRandom, n: Int, k: Int): Set[Long] =
    shuffle(r, (0 until n).map(_.toLong)).take(k).toSet

  /** Fisher–Yates shuffle driven by `r`. */
  def shuffle[A](r: SplittableRandom, xs: Seq[A]): Seq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  private def money(r: SplittableRandom, lo: Int, hi: Int): String =
    f"${lo + r.nextInt(hi - lo)}%d.${r.nextInt(100)}%02d"

  private def modified(r: SplittableRandom, cycle: Int): String =
    f"2024-06-${1 + cycle % 28}%02d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00"

  private val BadNumbers = Seq("12,5O0", "n/a", "1.2.3", "--7", "0x1F", "9e9e")

  private def misaRecord(ep: String, r: SplittableRandom, key: Long, cycle: Int,
      malformed: Boolean): String = {
    def num(lo: Int, hi: Int) =
      if (malformed) BadNumbers(r.nextInt(BadNumbers.size)) else money(r, lo, hi)
    val mod = esc(modified(r, cycle))
    ep match {
      case "misa_sale_orders_flattened" =>
        val items = (0 until saleOrderItems(key)).map { i =>
          val price = if (malformed && i == 0) esc(num(1, 2)) else esc(money(r, 1, 900))
          s"""{"id":${key * 10 + i},"product_code":"P${r.nextInt(2000)}","price":$price,""" +
            s""""amount":"${1 + r.nextInt(50)}","total":${esc(money(r, 10, 9000))},""" +
            s""""is_promotion":${r.nextInt(10) == 0}}"""
        }
        s"""{"id":$key,"sale_order_no":"SO-$key","account_name":"Customer#${r.nextInt(1500)}",""" +
          s""""sale_order_amount":${esc(money(r, 100, 50000))},"total_summary":${esc(money(r, 100, 50000))},""" +
          f"\"sale_order_date\":\"2024-05-${1 + r.nextInt(28)}%02d 10:00:00\"" +
          s""","modified_date":$mod,"status":"${Seq("draft", "confirmed", "shipped")(r.nextInt(3))}",""" +
          s""""sale_order_product_mappings":[${items.mkString(",")}]}"""
      case "misa_customers" =>
        s"""{"id":$key,"account_name":"Customer#$key","annual_revenue":${esc(num(1000, 900000))},""" +
          s""""debt":${esc(money(r, 0, 5000))},"billing_lat":"${10 + r.nextInt(10)}.${r.nextInt(1000)}",""" +
          s""""is_personal":${r.nextBoolean()},"inactive":false,"modified_date":$mod}"""
      case "misa_contacts" =>
        s"""{"id":$key,"contact_name":"Contact $key","account_id":${r.nextInt(1500)},""" +
          s""""total_score":${esc(num(0, 100))},"email_opt_out":${r.nextBoolean()},""" +
          s""""inactive":false,"modified_date":$mod}"""
      case "misa_stocks" =>
        val created = if (malformed) "2024-13-45 99:00:00" else modified(r, 0)
        s"""{"stock_code":"ST-$key","stock_name":"Warehouse $key","created_date":${esc(created)},""" +
          s""""inactive":${r.nextInt(20) == 0},"modified_date":$mod}"""
      case "misa_products" =>
        s"""{"id":$key,"product_code":"P$key","product_name":"part $key",""" +
          s""""unit_price":${esc(num(1, 900))},"unit_cost":${esc(money(r, 1, 500))},""" +
          s""""is_public":true,"inactive":false,"modified_date":$mod}"""
    }
  }

  private def tiktokDoc(r: SplittableRandom, key: Long, cycle: Int, items: Int,
      malformed: Boolean): String = {
    val created = 1717200000L + cycle * 600L + r.nextInt(600)
    val total = if (malformed) BadNumbers(r.nextInt(BadNumbers.size)) else money(r, 10, 90000)
    val lines = (0 until items).map { i =>
      s"""{"product_id":"p${key * 10 + i}","product_name":"item $i","sku_id":"s${key * 10 + i}",""" +
        s""""sku_info":{"sku_name":"sku $i","sales_attributes":[{"name":"Color","value":"c${r.nextInt(8)}"}]},""" +
        s""""quantity":"${1 + r.nextInt(3)}","unit_price":${esc(money(r, 1, 900))},"currency":"VND",""" +
        s""""is_gift":false,"platform_discount":"0","seller_discount":${esc(money(r, 0, 10))}}"""
    }
    s"""{"order_id":"tt$key","order_status":"PAID","create_time":$created,"update_time":${created + 60},""" +
      s""""payment_method":"CCDC","order_amount":{"currency":"VND","shipping_fee":"5000",""" +
      s""""total_amount":${esc(total)},"tax_amount":"0"},""" +
      s""""recipient_address":{"region_code":"VN","city":"c${r.nextInt(60)}","name":"buyer $key"},""" +
      s""""line_items":[${lines.mkString(",")}]}"""
  }

  // ----------------------------------------------------------- curation --

  /** One curation micro-batch: `short` docs fail the length gate,
    * `inBatchDups` are lightly edited copies of another doc of the same
    * batch, and `corpusDups` are lightly edited copies of docs of earlier
    * batches (in the first batch, of the same batch).
    */
  final case class CurationShape(docs: Int = 60, short: Int = 6,
      inBatchDups: Int = 6, corpusDups: Int = 9) {
    def fresh: Int = docs - short - inBatchDups - corpusDups
    def nearDupShare: Double = (inBatchDups + corpusDups).toDouble / docs
  }

  final case class Doc(docId: Long, text: String) {
    def nChars: Long = text.length.toLong
  }

  /** Fixed 480-word vocabulary of pseudo-words: large enough that random
    * documents share almost no word 3-grams, so only planted copies are
    * near-duplicates.
    */
  val Vocabulary: IndexedSeq[String] = {
    val on = Seq("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val nu = Seq("a", "e", "i", "o", "u", "ai", "ou")
    val syl = for (o <- on; n <- nu) yield o + n
    (for (a <- syl.indices; b <- Seq(3, 11, 29, 47, 61))
      yield syl(a) + syl((a * 7 + b) % syl.size)).distinct.take(480)
  }

  /** 50 words: every batch holds the same number of word 3-grams, so the
    * dedup work per batch does not depend on the seed.
    */
  private def freshText(r: SplittableRandom): String =
    Seq.fill(50)(Vocabulary(r.nextInt(Vocabulary.size))).mkString(" ")

  /** Replace one word and drop another: well above the 0.5 shingle
    * Jaccard and containment thresholds for documents of 50 words.
    */
  private def lightEdit(r: SplittableRandom, text: String): String = {
    val w = text.split(" ").toBuffer
    w(r.nextInt(w.size)) = Vocabulary(r.nextInt(Vocabulary.size))
    w.remove(r.nextInt(w.size))
    w.mkString(" ")
  }

  /** The fresh documents of batch `b`: their own random stream, so a later
    * batch can copy them without regenerating anything else.
    */
  private def freshTexts(seed: Long, b: Int, shape: CurationShape): IndexedSeq[String] = {
    val r = rng(seed, 500000L + b)
    (0 until shape.fresh).map(_ => freshText(r))
  }

  /** Batch `b` of the seeded document stream; doc ids are unique across
    * batches.
    */
  def curationBatch(seed: Long, b: Int, shape: CurationShape = CurationShape()): Seq[Doc] = {
    val r = rng(seed, 700000L + b)
    val fresh = freshTexts(seed, b, shape)
    val short = (0 until shape.short).map(_ => Seq.fill(3 + r.nextInt(8))(
      Vocabulary(r.nextInt(Vocabulary.size))).mkString(" "))
    val inBatch = (0 until shape.inBatchDups).map(_ => lightEdit(r, fresh(r.nextInt(fresh.size))))
    val corpus = (0 until shape.corpusDups).map { _ =>
      val from = if (b == 0) fresh else freshTexts(seed, r.nextInt(b), shape)
      lightEdit(r, from(r.nextInt(from.size)))
    }
    val base = b.toLong * shape.docs
    shuffle(r, fresh ++ short ++ inBatch ++ corpus).zipWithIndex.map { case (t, i) =>
      Doc(base + i, t)
    }
  }

  // -------------------------------------------------------- query tables --

  /** Table sizes of the query dataset: the layout and value domains of a
    * scale-factor directory of the repository's test data (TESTDATA.md) at
    * sf0.01 row counts.
    */
  final case class TableShape(orders: Int = 15000, lines: Int = 60000,
      customers: Int = 1500, suppliers: Int = 100, parts: Int = 2000,
      events: Int = 10000, users: Int = 150, documents: Int = 500,
      embeddings: Int = 500, dim: Int = 64)

  /** Every table [[writeTables]] can write. */
  val Tables: Set[String] = Set("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** The 31-word vocabulary of the test data's document table: short enough
    * that documents share many word 3-grams, as the pair-family queries
    * expect.
    */
  private val DocWords = IndexedSeq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window", "index")

  /** Writes the named tables (all of them by default) under `dir` as
    * `<name>.parquet`. Every table's rows are generated either way, so a
    * table's content does not depend on which others are written.
    */
  def writeTables(spark: org.apache.spark.sql.SparkSession, dir: String,
      shape: TableShape = TableShape(), seed: Long = DatasetSeed,
      only: String => Boolean = _ => true): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import java.time.LocalDateTime
    val r = rng(seed, 42)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      if (only(name)) spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(s"$dir/$name.parquet")
    def fields(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })
    def cents(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(from: LocalDateTime, days: Int) = from.plusDays(r.nextInt(days).toLong)

    write("region", fields("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    write("nation", fields("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", fields("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until shape.customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        cents(-999.99, 9999.99), segments(r.nextInt(5)))))
    write("supplier", fields("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until shape.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        cents(-999.99, 9999.99))))
    val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    write("part", fields("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
      (0 until shape.parts).map(i => Row(i.toLong,
        adjectives(r.nextInt(8)) + " " + nouns(r.nextInt(8)), s"Brand#${1 + r.nextInt(25)}",
        types(r.nextInt(6)), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    val epoch = LocalDateTime.of(1995, 1, 1, 0, 0)
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write("orders", fields("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      (0 until shape.orders).map(i => Row(i.toLong, r.nextInt(shape.customers).toLong,
        Seq("F", "O", "P")(r.nextInt(3)), cents(1000, 500000), day(epoch, 2404),
        priorities(r.nextInt(5)))))
    write("lineitem", fields("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
      (0 until shape.lines).map(_ => Row(r.nextInt(shape.orders).toLong,
        r.nextInt(shape.parts).toLong, r.nextInt(shape.suppliers).toLong, 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, cents(900, 105000), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
        day(epoch, 2500))))
    val kinds = Seq("click", "error", "purchase", "signup", "view")
    val jan = LocalDateTime.of(2024, 1, 1, 0, 0)
    write("events", fields("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType),
      (0 until shape.events).map(_ => r.nextLong(30L * 86400L * 1000000L)).sorted
        .zipWithIndex.map { case (us, i) => Row(i.toLong, jan.plusNanos(us * 1000L),
          r.nextInt(shape.users).toLong, kinds(r.nextInt(5)), cents(0.01, 490),
          s"""{"k": ${r.nextInt(100)}}""") })
    val langs = Seq("en", "en", "en", "en", "de", "es", "fr", "zh", "de", "es", "fr", "zh")
    val texts = mutable.ArrayBuffer[String]()
    (0 until shape.documents).foreach { i =>
      // One document in six is a light edit of an earlier one.
      texts += (if (i > 10 && r.nextInt(6) == 0) {
        val w = texts(r.nextInt(i)).split(" ").toBuffer
        w(r.nextInt(w.size)) = DocWords(r.nextInt(DocWords.size))
        w.mkString(" ")
      } else Seq.fill(10 + r.nextInt(90))(DocWords(r.nextInt(DocWords.size))).mkString(" "))
    }
    write("documents", fields("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      texts.toSeq.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, langs(r.nextInt(langs.size)), s"src${i % 20}", t.length.toLong) })
    val centers = (0 until 10).map(_ => Array.fill(shape.dim)(r.nextDouble() * 2 - 1))
    write("embeddings", fields("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until shape.embeddings).map { i =>
        val label = r.nextInt(10)
        val v = centers(label).map(_ + (r.nextDouble() - 0.5) * 0.8)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
