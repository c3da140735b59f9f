package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Greedy k-center coreset selection (Gonzalez 1985 farthest-point
  * traversal) over an embedding corpus — the "pick k maximally
  * diverse exemplars" primitive a training-data pipeline uses for
  * coverage-preserving subsampling, eval-set seeding, and
  * prototype/landmark selection (Sener & Savarese 2018 use exactly
  * this traversal for coreset-based active learning). The greedy
  * rule is a 2-approximation to the optimal k-center cover — the
  * best any polynomial algorithm achieves unless P=NP.
  *
  * Embeddings take the [[IntVectors]] format: every distance is an
  * exact 64-bit squared L2 and every selection tie breaks to the
  * lowest id — so the traversal is bit-identical on any partitioning
  * and fully replayable as relational SQL (the DuckDB oracle unrolls
  * the k−1 argmax steps as MATERIALIZED CTEs).
  *
  * Scale shape: the quantized corpus is persisted once and traversed
  * by [[IntVectors.greedy]]'s lazy greedy: a scan is ONE narrow pass (a
  * codegen'd t×dim dot block per row computing the running
  * min-distance to the t selected centers) followed by a distributed
  * top-(4k+1) (TakeOrdered — no global sort), and the rounds after it
  * rescore those kept rows on the driver, with no job, for as long as
  * their best distance stays strictly above the scan's (4k+1)-th. The
  * seed round's scores are all NULL, so the second round always scans
  * unless the corpus is at most 4k rows.
  * The selected centers are O(k·dim) driver-resident metadata, the
  * documented contract of [[KMeans]]'s centroid matrix and
  * [[Similarity]]'s IVF build. Worst case (every round rescans) k²·dim·n/2
  * dots — choose k ≪ √(budget/n·dim); for corpus-scale k, switch to
  * k-means++ style sampling (this operator is the exact small-k tool).
  *
  * Overflow contract: [[IntVectors]]'s.
  */
object Coreset {

  /** The quantized corpus (persisted) plus the selected rows in
    * selection order, each with its `score`: the exact squared L2
    * distance to the nearest previously-selected center, null for the
    * first pick. With nothing selected every score is null, so the
    * first pick is the lowest id — the deterministic seed.
    */
  private def traverse(emb: DataFrame, id: Column, vec: Column, k: Int,
      s: Long): (DataFrame, Seq[Row]) = {
    val q = Bridge.persistRows(
      IntVectors.quantize(emb, vec, s, id.cast("long").as("id")))
    // selected ids are excluded by the loop (duplicate VECTORS are
    // legitimate picks at d=0, but a selected POINT must not repeat —
    // this is also what makes n < k return all n instead of looping)
    val sel = IntVectors.greedy(q, k, s) { centers =>
      if (centers.isEmpty) lit(null).cast("long")
      else centers.map(IntVectors.sqDist).reduce(least(_, _))
    }
    (q, sel)
  }

  /** The k selected centers in selection order: one row per center,
    * (sel_rank 1..k, id, dist) with dist the exact integer squared
    * L2 distance from that center to the NEAREST previously-selected
    * center at the moment it was picked (the classic "coverage
    * radius" sequence — non-increasing; rank 1 is the deterministic
    * lowest-id seed and has dist NULL). If fewer than k vectors
    * exist, returns them all (rank ≤ n).
    */
  def kCenter(emb: DataFrame, id: Column, vec: Column, k: Int,
      s: Long = 1000L): DataFrame = {
    val (q, sel) = traverse(emb, id, vec, k, s)
    // k rows of driver metadata (the centroid-matrix contract) back
    // into a one-partition relation that declares its sel_rank order
    Bridge.sortedRelation(q.sparkSession,
      q.sparkSession.sparkContext.parallelize(
        sel.zipWithIndex.map { case (r, i) =>
          InternalRow(i + 1L, r.getAs[Long]("id"), r.getAs[Any]("score"))
        }, 1),
      StructType(Seq(StructField("sel_rank", LongType, nullable = false),
        StructField("id", LongType, nullable = false),
        StructField("dist", LongType, nullable = true))),
      Some("sel_rank"))
  }

  /** Every vector assigned to its nearest selected center — the
    * coverage clustering the traversal implies: (id, center_id,
    * dist), dist the exact squared L2 to the winning center, ties
    * broken to the lowest center id (so max(dist) over this relation
    * IS the k-center objective value). One extra narrow scan after
    * the traversal — [[IntVectors.nearest]], the [[KMeans.assign]]
    * argmin, with the selected centers as the cells.
    */
  def kCenterAssign(emb: DataFrame, id: Column, vec: Column, k: Int,
      s: Long = 1000L): DataFrame = {
    val (q, sel) = traverse(emb, id, vec, k, s)
    require(sel.nonEmpty, "kCenterAssign needs at least one vector")
    val best = IntVectors.nearest(
      sel.map(r => (r.getAs[Long]("id"), IntVectors.vectorOf(r))))
    q.select(col("id"),
      best.getField("id").as("center_id"),
      best.getField("dist").as("dist"))
  }
}
