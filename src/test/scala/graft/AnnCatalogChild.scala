package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Forked-JVM child for AnnCatalogSpec: pins that the persisted ANN
  * indexes survive a FULL SparkSession/SparkContext restart — the
  * production build-once/probe-many shape, where the builder and the
  * prober are different jobs. Each session is a [[Sessions.local]]
  * session plus a Hive (embedded-Derby) catalog in a scratch dir, so
  * the bucketBy spec lands in durable metadata:
  *
  *  - session 1 BUILDS the LSH index over the corpus and stops;
  *  - session 2 (fresh context, same metastore) APPENDS an increment
  *    — `saveAsTable(mode=append)` must read the bucket spec from
  *    catalog metadata alone — probes, and compares against a full
  *    in-session-2 rebuild over corpus ∪ increment.
  *
  * Runs forked because the suite's shared TestSpark session pins the
  * default in-memory catalog for every other test; a catalog
  * round-trip needs its own metastore and its own session lifecycle.
  * Prints GRAFT-ANN-OK on success; any mismatch prints
  * GRAFT-ANN-MISMATCH with the diff.
  */
object AnnCatalogChild {
  private val dim = 16

  private def mkSession(base: String): SparkSession =
    Sessions.local("4", _.appName("graft-ann-catalog")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$base/metastore_db;create=true")
      .enableHiveSupport())

  private def vec(seed: Int): Seq[Double] = {
    val r = new scala.util.Random(seed)
    Seq.fill(dim)(r.nextGaussian())
  }

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val corpusRows = (0 until 10).map(i => (i.toLong, vec(i)))
    val incRows = (0 until 5).map { i =>
      val r = new scala.util.Random(1000 + i)
      (100L + i, vec(i).map(x => x + 0.05 * r.nextGaussian()))
    }

    // ---- session 1: build over the corpus only, then stop ----
    val s1 = mkSession(base)
    locally {
      import s1.implicits._
      Similarity.lshBuildIndex(corpusRows.toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding"), table = "ann_lsh",
        path = s"$base/lsh", dim = dim)
    }
    s1.stop()

    // ---- session 2: fresh context, same metastore ----
    val s2 = mkSession(base)
    try {
      import s2.implicits._
      val qids = (0L to 4L).toSeq
      // the corpus-only index is visible across the restart
      val before = Similarity.lshProbeIndex(s2, "ann_lsh", qids, 1)
        .as[(Long, Long, Long)].collect()
      if (before.exists(_._2 >= 100L)) {
        println(s"GRAFT-ANN-MISMATCH pre-append sees the increment")
        return
      }
      // append WITHOUT the build session: bucket spec from catalog
      Similarity.lshAppendIndex(incRows.toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding"), table = "ann_lsh", dim = dim)
      Similarity.lshBuildIndex(
        (corpusRows ++ incRows).toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding"), table = "ann_lsh_full",
        path = s"$base/lsh_full", dim = dim)
      val appended = Similarity.lshProbeIndex(s2, "ann_lsh", qids, 3)
        .orderBy("query_id", "rank").as[(Long, Long, Long)].collect().toSeq
      val rebuilt = Similarity.lshProbeIndex(s2, "ann_lsh_full", qids, 3)
        .orderBy("query_id", "rank").as[(Long, Long, Long)].collect().toSeq
      val rank1CopiesWin = appended.filter(_._3 == 1L)
        .forall { case (q, n, _) => n == q + 100L }
      if (appended.nonEmpty && appended == rebuilt && rank1CopiesWin)
        println("GRAFT-ANN-OK")
      else
        println(s"GRAFT-ANN-MISMATCH appended=$appended rebuilt=$rebuilt")
    } finally s2.stop()
  }
}
