package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.DecimalType

/** Integer-exact Lloyd k-means over an embedding corpus, and the
  * SemDeDup-style semantic near-duplicate pruning built on top of it.
  *
  * Semantic deduplication (Abbas et al., "SemDeDup", 2023) is the
  * standard scale recipe for pruning redundant training documents that
  * share no literal n-grams: cluster the embedding space coarsely,
  * then compare pairs ONLY within a cluster and drop all but one of
  * each high-cosine group. The clustering bounds the pair candidate
  * set exactly the way LSH banding does for MinHash/SimHash — k-means
  * cells play the role of buckets — so the quadratic pair work never
  * crosses cluster boundaries.
  *
  * Float Lloyd iterations are not oracle-gateable (FP sums are
  * accumulation-ordered, argmin ties flip with them). This variant
  * keeps every quantity integral, the [[IntVectors]] format applied
  * to the clustering recursion:
  *
  *   qᵢⱼ   = ⌊xᵢⱼ·s + ½⌋                       (one-time quantization)
  *   c⁰ⱼ   = q of the j-th lowest id            (deterministic seeds)
  *   assignᵢ = argminⱼ Σₖ (qᵢₖ − cⱼₖ)²          (ties → lowest j)
  *   c'ⱼₖ  = sgn(Σᵢ qᵢₖ) · (|Σᵢ qᵢₖ| div nⱼ)    (empty cluster keeps cⱼ)
  *
  * Distances are [[IntVectors.nearest]]'s exact expansion with the
  * centroids as reference objects, so the generated code is identical
  * across rounds — one janino compile for the whole loop; integer
  * sums are order-free; `div` on non-negative operands
  * floors identically in Spark and DuckDB (signs handled explicitly
  * because the engines disagree on negative integral division). The
  * result is bit-identical on any partitioning and fully reproducible
  * as relational SQL, so both the assignment and the dedup verdict
  * carry complete DuckDB oracles.
  *
  * Scale shape: the quantized corpus is persisted once; each Lloyd
  * round is ONE narrow scan — the argmin is a codegen'd k×dim dot
  * block per row, the centroid update a map-side-combinable
  * (cluster → dim DECIMAL sums) aggregate — and the centroid matrix
  * (k·dim longs) is driver-resident index metadata, the documented
  * O(k·dim) analogue of [[Similarity]]'s IVF build and
  * [[PowerIteration]]'s iterate. Nothing wider than k·dim partial
  * sums per task ever shuffles. At 100 TB: k ≈ √n keeps cluster
  * populations ≈ √n, and the SemDeDup pair stage routes through
  * [[BucketPairs.boundedPairs]] on the cluster key, so a degenerate
  * mega-cluster salts across tasks instead of exploding one reducer.
  *
  * Overflow contract: [[IntVectors]]'s; centroid entries are means of
  * q entries, so |c| ≤ s too, and per-dimension centroid sums live in
  * DECIMAL(38,0).
  */
object KMeans {

  /** Cluster assignment after `rounds` Lloyd assignment passes
    * (`rounds − 1` centroid updates between them): one row per input
    * vector, columns (`id`, `cluster`, `dist`) with `dist` the exact
    * integer squared L2 distance to the winning centroid.
    */
  def assign(emb: DataFrame, id: Column, vec: Column,
      k: Int = 8, rounds: Int = 2, s: Long = 1000L): DataFrame =
    assigned(emb, id, vec, k, rounds, s)._1.select("id", "cluster", "dist")

  /** SemDeDup survivors: vectors that have NO same-cluster neighbor
    * with a lower id whose exact integer cosine is ≥ tPct/100. One row
    * per surviving vector, columns (`id`, `cluster`).
    *
    * The verdict is [[IntVectors.cosineAtLeast]], the
    * [[BinaryEmbed.intCosineNearDupPairs]] predicate, over pairs
    * generated per cluster through the
    * skew-bounded [[BucketPairs]] join, never all-pairs.
    */
  def semanticDedup(emb: DataFrame, id: Column, vec: Column,
      k: Int = 8, rounds: Int = 2, tPct: Int = 60, s: Long = 1000L,
      bucketCap: Int = 1000): DataFrame = {
    val nearDup = IntVectors.cosineAtLeast(
      IntVectors.dot(col("q_a"), col("q_b")), col("nq_a"), col("nq_b"), tPct)
    val a = Bridge.persistRows(
      assigned(emb, id, vec, k, rounds, s)._1
        .select(col("id"), col("cluster"), col("q"), col("nq")))
    val pairs = BucketPairs.boundedPairs(
      a.select(col("cluster"), col("id"), col("q"), col("nq")),
      keys = Seq("cluster"), id = "id", payload = Seq("q", "nq"),
      cap = bucketCap)
    val dropped = pairs.filter(nearDup)
      .select(col("id_b").as("id")).distinct()
    a.join(dropped, Seq("id"), "left_anti").select("id", "cluster")
  }

  /** IVF ANN top-k over the integer k-means coarse quantizer — the
    * hash-gateable twin of [[Similarity.ivfTopK]]: each query probes
    * its `nprobe` nearest final centroids (exact integer distances,
    * ties → lowest cluster), candidates are the corpus rows assigned
    * to a probed cell, rerank is exact integer cosine with the
    * double-exact num/√(nₐ·nᵦ) sort key (ties → neighbor id). Probing
    * is part of the gate's semantics, so — like the banded-LSH gates —
    * the oracle enumerates the SAME candidate set and no recall
    * argument is needed.
    *
    * Scale shape: one k-means build (see above), then the query side
    * (|queries|·nprobe cells) broadcasts against the cluster-keyed
    * assignment relation — an equi-join on the cell id, the IVF probe
    * pattern exactly.
    */
  def ivfTopK(emb: DataFrame, id: Column, vec: Column,
      queryIds: Seq[Long], topK: Int, nprobe: Int = 2, k: Int = 8,
      rounds: Int = 2, s: Long = 1000L): DataFrame = {
    require(queryIds.nonEmpty && topK >= 1, "need query ids and topK >= 1")
    require(nprobe >= 1 && nprobe <= k, "nprobe must be in [1, k]")
    import org.apache.spark.sql.expressions.Window
    val (a0, cs) = assigned(emb, id, vec, k, rounds, s)
    val a = Bridge.persistRows(
      a0.select(col("id"), col("cluster"), col("q"), col("nq")))
    // probe cells per query: the nprobe smallest exact distances to
    // the final centroids, computed row-side against the
    // driver-resident matrix (same reference-object discipline as the
    // assignment scan)
    val probed = a.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("q").as("_qq"),
        col("nq").as("_qna"),
        slice(array_sort(IntVectors.centerDists(cells(cs))), 1, nprobe)
          .as("_probe"))
      .select(col("query_id"), col("_qq"), col("_qna"),
        explode(col("_probe")).as("_cell"))
      .select(col("query_id"), col("_qq"), col("_qna"),
        col("_cell.id").as("cluster"))
    val cands = a.join(broadcast(probed), Seq("cluster"))
      .filter(col("id") =!= col("query_id"))
    val scored = cands
      .withColumn("num", IntVectors.dot(col("_qq"), col("q")))
      .withColumn("cosine",
        IntVectors.cosine(col("num"), col("_qna"), col("nq")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("num"), col("cosine"), col("rank"))
  }

  /** Quantize → seed → `rounds` × (assign [, update]) → final
    * assignment joined with the quantized vectors:
    * (id, q, nq, cluster, dist), plus the final centroid matrix.
    */
  private def assigned(emb: DataFrame, id: Column, vec: Column,
      k: Int, rounds: Int, s: Long): (DataFrame, Array[Array[Long]]) = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    val q = Bridge.persistRows(IntVectors.quantize(emb, vec, s, id.as("id")))
    val dim = q.select(size(col("q"))).head().getInt(0)
    IntVectors.requireExact(dim, s)

    // deterministic seeds: the k lowest ids, cluster index = id rank.
    // k rows × dim longs of driver metadata (the IVF-build contract).
    var cs: Array[Array[Long]] = q.orderBy(col("id")).limit(k)
      .select(col("q")).collect()
      .map(IntVectors.vectorOf)
    require(cs.length == k, s"need at least $k vectors to seed $k clusters")

    def assignOnce(): DataFrame = {
      // argmin over k exact distances, ties to the lowest cluster
      val best = IntVectors.nearest(cells(cs))
      q.select(col("id"), col("q"), col("nq"),
        best.getField("id").as("cluster"),
        best.getField("dist").as("dist"))
    }

    var a = assignOnce()
    for (_ <- 1 until rounds) {
      // one map-side-combinable scan: cluster → (count, dim sums)
      val sums = a.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          (0 until dim).map(j =>
            sum(element_at(col("q"), j + 1).cast(DecimalType(38, 0)))
              .as(s"s$j")): _*)
        .collect()
      val next = cs.map(_.clone())
      sums.foreach { row =>
        val j = row.getLong(0).toInt
        val n = BigInt(row.getLong(1))
        next(j) = Array.tabulate(dim) { i =>
          val sm = BigInt(row.getDecimal(i + 2).toBigInteger)
          (sm.signum * (sm.abs / n)).toLong
        }
      }
      cs = next
      a = assignOnce()
    }
    (a, cs)
  }

  /** The centroid matrix as (cluster id, centroid) centers. */
  private def cells(cs: Array[Array[Long]]): Seq[(Long, Array[Long])] =
    cs.toSeq.zipWithIndex.map { case (c, j) => (j.toLong, c) }
}
