package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Maximal Marginal Relevance diverse top-k (Carbonell & Goldstein,
  * SIGIR 1998): iteratively select the candidate maximizing
  * λ·relevance − (1−λ)·max-similarity-to-already-selected — the
  * retrieval-diversity primitive for eval-set construction, RAG
  * context assembly, and "show k results that aren't five copies of
  * the same page" dedup-aware ranking.
  *
  * λ is fixed at 1/2, which makes the argmax objective the INTEGER
  * rel − redundancy (the common 2·score scaling): relevance is the
  * exact quantized dot with the query vector and redundancy the exact
  * max dot to the selected set — the [[IntVectors]] format, so the
  * whole traversal is bit-identical on any partitioning and the
  * DuckDB oracle unrolls it as MATERIALIZED CTE rounds (argmax ties →
  * lowest id).
  *
  * Scale shape ([[Coreset]]'s, through the same lazy
  * [[IntVectors.greedy]] loop): the quantized pool is persisted once; a
  * scan is ONE narrow pass (a codegen'd t×dim dot block computing the
  * running max-redundancy) ending in a distributed top-(4k+1)
  * (TakeOrdered — no global sort), and later rounds pick from those
  * kept rows on the driver, with no job, while the best rescored mmr
  * stays strictly above the scan's (4k+1)-th. The first round (nothing
  * selected, red = 0) bounds nothing, so the second round always scans
  * unless the pool is at most 4k rows. Selected vectors are O(k·dim)
  * driver metadata. Worst case (every round rescans) k²·dim·n/2 dots —
  * the exact small-k tool; corpus-scale diverse sampling is [[Coreset]]
  * / cluster-stratified sampling.
  *
  * Overflow contract: [[IntVectors]]'s.
  */
object Mmr {

  /** The k-selection sequence: (sel_rank 1..k, id, rel, red, mmr)
    * with rel the exact dot to `queryId`'s vector, red the exact max
    * dot to the previously-selected (0 for rank 1), mmr = rel − red
    * at the moment of selection. The query vector itself is excluded
    * from the pool. Returns fewer than k rows iff the pool is
    * smaller.
    */
  def diverseTopK(emb: DataFrame, id: Column, vec: Column, queryId: Long,
      k: Int, s: Long = 1000L): DataFrame = {
    val q = Bridge.persistRows(
      IntVectors.quantize(emb, vec, s, id.cast("long").as("id")))
    val qRow = q.filter(col("id") === queryId).limit(1).collect()
    require(qRow.nonEmpty, s"query vector $queryId not found")
    val qv = IntVectors.vectorOf(qRow.head)
    IntVectors.requireExact(qv.length, s)
    val pool = q.filter(col("id") =!= queryId)
      .withColumn("rel", IntVectors.dot(col("q"), qv))
    // score = mmr = rel − red, so red is recovered as rel − score
    val sel = IntVectors.greedy(pool, k, s) { selected =>
      val red =
        if (selected.isEmpty) lit(0L)
        else selected.map(IntVectors.dot(col("q"), _)).reduce(greatest(_, _))
      col("rel") - red
    }
    val spark = emb.sparkSession
    Bridge.sortedRelation(spark,
      spark.sparkContext.parallelize(sel.zipWithIndex.map { case (r, i) =>
        val (rel, mmr) = (r.getAs[Long]("rel"), r.getAs[Long]("score"))
        InternalRow(i + 1L, r.getAs[Long]("id"), rel, rel - mmr, mmr)
      }, 1),
      StructType(Seq(
        StructField("sel_rank", LongType, nullable = false),
        StructField("id", LongType, nullable = false),
        StructField("rel", LongType, nullable = false),
        StructField("red", LongType, nullable = false),
        StructField("mmr", LongType, nullable = false))),
      Some("sel_rank"))
  }
}
