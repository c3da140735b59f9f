package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list, and the dedup
  * clustering built on it (near-duplicate PAIRS → duplicate CLUSTERS →
  * one canonical survivor per cluster — the missing last step of a
  * production dedup pipeline: greedy pair-based dropping is
  * order-dependent and over-deletes on chains, while
  * cluster-then-survive is deterministic and keeps exactly one document
  * per transitive duplicate group).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the
  * shuffle-native formulation that converges in O(log² n) rounds on any
  * graph (O(log n) in practice; dedup graphs, whose components are
  * near-cliques with tiny diameters, converge in 1-2 rounds). No
  * adjacency list is ever materialized per node (no collect_list, no
  * driver-side graph), so a 100 TB edge set with a billion-node
  * component flows through the same bounded-memory shuffles as any
  * group-by. The min-label invariant makes the output deterministic
  * under any partitioning: every node labels itself with the smallest
  * node id reachable from it.
  *
  * WHY THE LOOP BODY IS RDD, NOT DataFrame (round-8 rewrite): the loop
  * is a driver-controlled fixpoint whose body has ONE fixed physical
  * shape — min-reduce, co-partitioned join, distinct — yet as a
  * DataFrame each round re-paid Catalyst analysis/optimization, AQE
  * re-planning per shuffle stage, and whole-stage-codegen class
  * loads/JIT; measured 3-9 s at sf0.1 for a 244-EDGE graph (the work
  * itself is microseconds). Iterative graph fixpoints are exactly the
  * workload Spark itself keeps at the RDD layer (GraphX/Pregel); the
  * rewrite keeps the identical Kiveris shuffle DAG but runs it on
  * keyed-RDD primitives with a single [[HashPartitioner]] shared by
  * every round, so every `reduceByKey` output is co-partitioned with
  * its `join` probe (the min-relation side of each star is a NARROW
  * dependency — strictly fewer shuffles than the SQL plan, which
  * re-exchanged both sides). The partition count is derived from the
  * materialized edge count (~[[Clusters.EdgesPerPartition]] pairs ≈
  * 100 MB per task), so the same code runs one task per stage at test
  * scale and thousands at 100 TB — identical semantics, ClustersSpec
  * pins label equality against a local union-find and across input
  * partitionings.
  */
object Clusters {

  /** Target long-pairs per fixpoint-loop partition: 6M × 16 B ≈ 100 MB
    * of raw keys per task (plus shuffle overhead) — comfortably inside
    * executor memory while keeping task counts proportional to data.
    */
  val EdgesPerPartition: Long = 6000000L

  /** One large-star round: every node connects its strictly-larger
    * neighbors to the smallest node of its closed neighborhood.
    * min-reduce + join on the center id; the min side is co-partitioned
    * with the probe side (same partitioner), so only `und` shuffles.
    */
  private def largeStar(e: RDD[(Long, Long)], part: HashPartitioner)
      : RDD[(Long, Long)] = {
    val und = e.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
    val mins = und.reduceByKey(part, math.min(_, _))
      .mapPartitions(_.map { case (u, mn) => (u, math.min(u, mn)) },
        preservesPartitioning = true)
    und.join(mins, part).flatMap { case (u, (v, m)) =>
      if (v > u) Iterator((v, m)) else Iterator.empty
    }
  }

  /** One small-star round: every node connects its smaller-or-equal
    * neighbors (and itself) to the smallest of them. Input and output
    * edges are oriented u > v; output is distinct.
    */
  private def smallStar(e: RDD[(Long, Long)], part: HashPartitioner)
      : RDD[(Long, Long)] = {
    val mins = e.reduceByKey(part, math.min(_, _))
    val moved = e.join(mins, part).flatMap { case (_, (v, m)) =>
      if (v != m) Iterator((v, m)) else Iterator.empty
    }
    moved.union(mins).distinct(part.numPartitions)
  }

  /** splitmix64 finalizer — full-avalanche 64-bit mix for the set
    * signature below.
    */
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** (count, order-independent checksum) in ONE pass — the fixpoint
    * test. Edge sets are distinct, so XORing a mixed 64-bit hash of
    * each pair detects any change with collision probability ~2⁻⁶⁴ per
    * round. This action also materializes (and thus populates the
    * persist of) its input.
    */
  private def signature(e: RDD[(Long, Long)]): (Long, Long) =
    e.mapPartitions { it =>
      var n = 0L; var x = 0L
      it.foreach { case (u, v) => n += 1; x ^= mix(mix(u) ^ v) }
      Iterator((n, x))
    }.fold((0L, 0L)) { case ((n1, x1), (n2, x2)) => (n1 + n2, x1 ^ x2) }

  /** Connected components of the undirected graph given by
    * (`src`, `dst`) pairs (long-castable ids; self-loops ignored).
    *
    * @return (node, component) for every node appearing in an edge,
    *         where component = min node id of the connected component.
    *         Isolated nodes never reach this function — callers union
    *         them back with component = own id (see [[dedupClusters]]).
    *
    * Runs large-star + small-star rounds until the edge set reaches a
    * fixpoint (a star forest: every node points directly at its
    * component root), detected by the order-independent set signature —
    * driver control flow only, never a data collect. Each round's edge
    * set is persisted (its signature action materializes it) and the
    * previous round's blocks are freed eagerly; lineage stays intact,
    * so block loss recomputes instead of failing.
    */
  def connectedComponents(edges: DataFrame, src: Column, dst: Column,
      maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val init = edges
      .select(src.cast("long").as("u"), dst.cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
      .as[(Long, Long)].rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    var curSig = signature(init) // materializes init's persist
    val part = new HashPartitioner(
      math.max(1L, curSig._1 / EdgesPerPartition).min(65536L).toInt)
    val debug = sys.props.contains("graft.debug.cc")
    var cur = init
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val t0 = if (debug) System.nanoTime() else 0L
      val next = smallStar(largeStar(cur, part), part)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // the DataFrame loops' cadence (Bridge.persistRound) on the RDD
      // form; the signature action below materializes the round,
      // severing the chain here
      if ((it + 1) % Bridge.CheckpointEvery == 0) next.localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == curSig
      if (debug) System.err.println(
        f"[cc] round $it took ${(System.nanoTime() - t0) / 1e9}%.3f s" +
          s" sig=$nextSig")
      // a locally-checkpointed round's blocks ARE its data — skip the
      // eager free (the ContextCleaner reclaims it once unreferenced)
      if (!(cur eq init) && !cur.isCheckpointed)
        cur.unpersist(blocking = false)
      cur = next
      curSig = nextSig
      it += 1
    }
    // star forest: every edge is (node, root); roots appear only on the
    // v side and label themselves
    val labeled = cur
      .flatMap { case (u, v) => Iterator((u, v, false), (v, v, true)) }
    // root self-labels are emitted once per child edge → distinct them;
    // child labels are already unique (one root per node in a forest)
    val out = labeled.flatMap { case (n, c, isRoot) =>
        if (isRoot) Iterator((n, c)) else Iterator.empty }
      .distinct(part.numPartitions)
      .union(labeled.flatMap { case (n, c, isRoot) =>
        if (isRoot) Iterator.empty else Iterator((n, c)) })
    init.unpersist(blocking = false)
    out.toDF("node", "component")
  }

  /** Duplicate clusters over a document table: MinHash-LSH near-dup
    * pairs at `threshold`, closed transitively into components.
    *
    * @return one row per INPUT document: (doc_id, cluster_id), where
    *         cluster_id = min doc_id of the duplicate cluster and
    *         singletons (no near-duplicate) label themselves. Keeping
    *         `doc_id === cluster_id` rows is the canonical-survivor
    *         dedup; the full labeling also supports cluster-size stats
    *         and duplicate-aware sampling.
    *
    * The component relation is bounded by the number of docs appearing
    * in any near-dup pair — tiny relative to the corpus — so the final
    * enrichment join broadcasts under AQE at any corpus scale.
    */
  def dedupClusters(df: DataFrame, id: Column, text: Column,
      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.8, bucketCap: Int = 1000): DataFrame = {
    val pairs = Dedup.nearDupPairs(df, id, text, shingleN, k, bands,
      threshold, bucketCap)
    val cc = connectedComponents(pairs, col("doc_a"), col("doc_b"))
      .withColumnRenamed("node", "_cc_id")
    df.select(id.as("doc_id"))
      .join(cc, col("doc_id") === col("_cc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
  }
}
