package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions must inject SQL functions at session build time, and
  * GraftExtensions.register must install the same list into a session
  * built without them. Extensions apply per builder, so the build-time
  * cases build their own session over the shared context.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("withExtensions injects graft SQL functions") {
    // getOrCreate returns the active session (ignoring extensions), so
    // clear active/default around the build to force a fresh SparkSession
    // over the same SparkContext, then restore.
    val base = SharedSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val got = s.sql(
        """SELECT hmac_sha256('Jefe', 'what do ya want for nothing?') AS sig,
          |dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
          |simhash64(array(CAST(1 AS BIGINT))) AS sh,
          |size(minhash_signature(array(CAST(7 AS BIGINT)), 16)) AS mhk""".stripMargin).head()
      assert(got.getString(0) ===
        "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843")
      assert(got.getDouble(1) === 11.0)
      assert(got.getLong(2) === 1L)
      assert(got.getInt(3) === 16)
      // misra_gries is an AGGREGATE injection: the analyzer must wrap the
      // bare AggregateFunction the builder returns.
      val mg = s.sql(
        """SELECT misra_gries(k, 2) AS c FROM VALUES ('a'),('a'),('a'),('b') t(k)"""
      ).head().getSeq[String](0)
      assert(mg.contains("a"), s"sketch lost the majority key: $mg")
      // count_min: a depth×width grid whose row sums each equal n — the
      // structural invariant any correct update preserves.
      val cm = s.sql(
        """SELECT count_min(k, 2, 8) AS g FROM VALUES ('a'),('a'),('b') t(k)"""
      ).head().getSeq[Long](0)
      assert(cm.length === 16)
      assert(cm.slice(0, 8).sum === 3L && cm.slice(8, 16).sum === 3L,
        s"row sums must equal n: $cm")
      // GROUP BY parity (SQL ≡ Scala for the injected AGGREGATE): the
      // grouped sketch through spark.sql must equal the column-API
      // aggregate on the same data — exercising the TypedImperativeAggregate
      // through partial/merge under hash aggregation, not just one point
      // call.
      locally {
        import s.implicits._
        val rows = Seq(("x", "a"), ("x", "a"), ("x", "b"), ("y", "c"))
        val viaSql = s.sql(
          """SELECT g, count_min(k, 2, 8) AS grid
            |FROM VALUES ('x','a'),('x','a'),('x','b'),('y','c') t(g, k)
            |GROUP BY g ORDER BY g""".stripMargin)
          .collect().map(r => (r.getString(0), r.getSeq[Long](1))).toSeq
        val viaApi = rows.toDF("g", "k").groupBy($"g")
          .agg(graft.functions.CountMin.count_min($"k", 2, 8).as("grid"))
          .orderBy($"g")
          .collect().map(r => (r.getString(0), r.getSeq[Long](1))).toSeq
        assert(viaSql === viaApi)
        assert(viaSql.map(_._1) === Seq("x", "y"))
      }
      // hll_registers: the injected HLL aggregate through spark.sql with
      // GROUP BY ≡ the column API (partial/merge exercised, not a point
      // call), and the vector is structurally a register table: 2^p
      // entries, ranks in [0, 61-p], at most |distinct keys| nonzero.
      locally {
        import s.implicits._
        val rows = Seq(("x", "a"), ("x", "a"), ("x", "b"), ("y", "c"))
        val viaSql = s.sql(
          """SELECT g, hll_registers(k, 4) AS regs
            |FROM VALUES ('x','a'),('x','a'),('x','b'),('y','c') t(g, k)
            |GROUP BY g ORDER BY g""".stripMargin)
          .collect().map(r => (r.getString(0), r.getSeq[Int](1))).toSeq
        val viaApi = rows.toDF("g", "k").groupBy($"g")
          .agg(graft.functions.HyperLogLog.hll_registers($"k", 4).as("regs"))
          .orderBy($"g")
          .collect().map(r => (r.getString(0), r.getSeq[Int](1))).toSeq
        assert(viaSql === viaApi)
        viaSql.foreach { case (_, regs) =>
          assert(regs.length === 16 && regs.forall(r => r >= 0 && r <= 57))
        }
        assert(viaSql.head._2.count(_ > 0) <= 2) // 'x' has 2 distinct keys
      }
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("register installs exactly the injected functions into a built session, idempotently") {
    val base = SharedSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val withExt = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    val builtin = FunctionRegistry.builtin.listFunction().toSet
    val injected = withExt.sessionState.functionRegistry.listFunction().toSet -- builtin
    assert(injected.map(_.funcName) === GraftExtensions.functions.map(_._1.funcName).toSet)

    // A session built WITHOUT the extensions, then registered twice.
    val s = base.newSession()
    val registry = s.sessionState.functionRegistry
    val before = registry.listFunction().toSet
    assert((injected & before).isEmpty)
    GraftExtensions.register(s)
    assert(registry.listFunction().toSet -- before === injected)
    GraftExtensions.register(s)
    assert(registry.listFunction().toSet -- before === injected)
    assert(s.sql("SELECT jaro_winkler('MARTHA', 'MARHTA') AS jw, " +
      "hmac_sha256('Jefe', 'what do ya want for nothing?') AS sig").head() ===
      org.apache.spark.sql.Row(0.9611111111111111,
        "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843"))
  }
}
