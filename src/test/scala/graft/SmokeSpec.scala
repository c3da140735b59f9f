package graft

import org.scalatest.funsuite.AnyFunSuite

/** Executes EVERY declared query end-to-end on sf0.001 — catches
  * analysis-time failures of custom expressions before they ship
  * (round-1 ADVICE: three declared queries had never run).
  */
class SmokeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every queries entry has an executable plan and returns rows") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { if (fn(spark, dir).count() > 0) None else Some(s"$name: 0 rows") }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(150)}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("q_important_parts selects a non-empty head at sf0.001 and sf0.01") {
    // its threshold scales with the part count (4/3 × the mean part
    // value); a fixed share of the total selected nothing from sf0.01
    // up, so its oracle compared two empty results there
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val parts = SparkEntry.queries("q_important_parts")(spark,
        s"/root/testdata/$sf")
      val all = Tables.lineitem(spark, s"/root/testdata/$sf")
        .select("l_partkey").distinct().count()
      val n = parts.count()
      assert(n > 0L && n < all, s"$sf: $n of $all parts selected")
    }
  }

  test("exactly the four declared rows-only queries lack an oracle") {
    val rowsOnly = SparkEntry.catalogue.collect {
      case (name, Query(_, NoOracle(_))) => name
    }
    assert(rowsOnly.sorted ==
      Seq("q_approx_stats", "q_random_split", "q_sim_ivf", "q_sim_lsh"))
    assert(SparkEntry.queries.size == 241)
    assert(SparkEntry.oracleSql.size == 237)
  }

  test("a query name declared twice fails catalogue assembly") {
    val q = Query((s, _) => s.range(1).toDF(), Oracle("SELECT 0 AS id"))
    assert(SparkEntry.assemble(Seq("q_a" -> q), Seq("q_b" -> q)).size == 2)
    val across = intercept[IllegalArgumentException](
      SparkEntry.assemble(Seq("q_a" -> q), Seq("q_b" -> q, "q_a" -> q)))
    assert(across.getMessage.contains("q_a"))
    intercept[IllegalArgumentException](
      SparkEntry.assemble(Seq("q_a" -> q, "q_a" -> q)))
  }
}
