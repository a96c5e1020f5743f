package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution — the step after pair enumeration in a
  * training-data dedup pipeline.
  *
  * The reference (and [[Dedup.ngramDedup]]/[[Dedup.minhashDedup]])
  * resolves near-dup PAIRS by dropping the higher id of each pair
  * (/root/reference/src/scala_examples/SparkDedup.scala:63-72). That
  * policy is pair-local: in a chain a~b~c it keeps `a` and drops both
  * `b` and `c` even if b is the best copy, and which rows survive
  * depends on which pairs the enumerator emitted. Production LLM
  * dedup groups pairs into CONNECTED COMPONENTS and keeps one chosen
  * representative per cluster — cluster membership is a property of
  * the graph, not of the enumeration order.
  */
object DupClusters {

  /** One job over an integral-id edge frame `(id_a, id_b)`: each
    * partition's edge count, plus its edges when that count is within
    * the per-partition cap ⌈2(T+1)/P⌉ (T = `driverEdgeThreshold`,
    * P = partitions), else none. Driver intake is therefore at most
    * P·⌈2(T+1)/P⌉ ≤ 2(T+1)+P edge tuples however many partitions the
    * frame has, and the fetch is complete exactly when every partition
    * shipped all its edges. */
  private[graft] def cappedEdgeFetch(edges: DataFrame,
      driverEdgeThreshold: Long): Array[(Long, Array[(Long, Long)])] = {
    val rdd = edges.rdd
    val nParts = math.max(1, rdd.getNumPartitions)
    val cap = (2L * (driverEdgeThreshold + 1) + nParts - 1) / nParts
    rdd.mapPartitions { it =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var cnt = 0L
      it.foreach { row =>
        cnt += 1
        if (cnt <= cap)
          buf += ((row.get(0).asInstanceOf[Number].longValue,
            row.get(1).asInstanceOf[Number].longValue))
      }
      Iterator.single((cnt, if (cnt <= cap) buf.toArray else Array.empty[(Long, Long)]))
    }.collect()
  }

  /** Connected components of the near-dup graph by min-label
    * propagation: every vertex ends labeled with the smallest id
    * reachable from it (the canonical cluster id).
    *
    * `vertices` is a single-column frame of ids; `edges` has columns
    * `id_a`, `id_b` (orientation irrelevant). Returns `(id, cluster)`.
    *
    * Scale shape: the loop runs ONLY over edge-participating vertices
    * (isolated rows — the overwhelming majority of a real corpus —
    * join back in one left_anti at the end, never entering an
    * iteration). The edge list is materialized ONCE up front
    * (`localCheckpoint`) — the pair enumeration feeding it is usually
    * the expensive operator in the pipeline and must not re-execute
    * every round. Each round is then: neighbor-min (hash join +
    * partial-aggregated min), plus a POINTER-JUMP (`label ←
    * label(label)`, one self-join) that halves remaining label-chain
    * depth, giving O(log diameter) rounds instead of O(diameter);
    * every round's result is checkpointed so the plan stays
    * O(1)-deep instead of growing by joins-per-round. `maxIter`
    * guards adversarial chains.
    *
    * Fault tolerance: when the session has a RELIABLE checkpoint
    * directory configured (`sc.setCheckpointDir(...)` — HDFS/S3 on a
    * real cluster), every materialization in the loop uses
    * `checkpoint` (survives executor loss; a lost localCheckpoint
    * block aborts the job, acceptable only single-node). Without one,
    * falls back to `localCheckpoint` — the right default for
    * local[n] where executor==driver anyway. */
  def connectedComponents(
      vertices: DataFrame, edges: DataFrame, maxIter: Int = 30,
      driverEdgeThreshold: Long = 2L << 20): DataFrame = {
    val idCol = vertices.columns.head
    // reliable checkpoint when the session has a checkpoint dir
    // (cluster fault tolerance across the long loop), local otherwise
    val reliable = vertices.sparkSession.sparkContext.getCheckpointDir.isDefined
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    // materialize the edge list BEFORE symmetrizing: the union would
    // otherwise embed the (expensive) pair-enumeration plan in both
    // branches and execute it twice. LAZY local checkpoint + count:
    // the count action computes every partition and materializes the
    // checkpoint blocks as it goes, so mark+count costs ONE job where
    // the eager form paid a dedicated materialization job first (the
    // union below only runs after the count, against the blocks).
    // The reliable-checkpoint branch stays eager: a lazy reliable
    // checkpoint recomputes the plan a second time to write the
    // checkpoint files.
    val e0 =
      if (reliable) materialize(edges.select(col("id_a"), col("id_b")))
      else edges.select(col("id_a"), col("id_b")).localCheckpoint(eager = false)

    // Small-graph fast path: after near-dup pair enumeration the edge
    // set is typically orders of magnitude smaller than the corpus —
    // often small enough that driver union-find beats ANY distributed
    // loop (each distributed round costs several scheduled jobs; the
    // whole union-find here is microseconds). Strictly size-gated
    // (≤ driverEdgeThreshold edges ≈ tens of MB) and integral-id-only;
    // everything else takes the distributed loop below. This is a
    // bounded METADATA collect — cluster labels for edge endpoints —
    // not a data collect: isolated vertices (the corpus bulk) never
    // leave the cluster.
    //
    // The size gate and the edge fetch fuse into ONE job (they used to
    // be a count job followed by a collect job — two scheduled jobs
    // plus a driver gap for every CC call in the engine): see
    // `cappedEdgeFetch`. When no partition hit its cap and the total
    // is inside the threshold, the fetched rows ARE the complete edge
    // list; otherwise the distributed loop below runs against the
    // already-materialized checkpoint blocks with nEdges known. A
    // skew-pathological small graph (one partition > 2× the average at
    // the threshold) merely falls back to the distributed loop — never
    // a wrong answer.
    val idType = e0.schema.fields(0).dataType
    val integral = idType.isInstanceOf[org.apache.spark.sql.types.LongType] ||
      idType.isInstanceOf[org.apache.spark.sql.types.IntegerType] ||
      idType.isInstanceOf[org.apache.spark.sql.types.ShortType]
    var nEdges = -1L
    var collected: Array[(Long, Long)] = null
    if (integral) {
      val parts = cappedEdgeFetch(e0, driverEdgeThreshold)
      nEdges = parts.map(_._1).sum
      if (nEdges <= driverEdgeThreshold && parts.forall(p => p._1 == p._2.length))
        collected = parts.flatMap(_._2)
    } else nEdges = e0.count()
    if (collected != null) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      collected.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by MIN root so the representative is the smallest id
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val labels = parent.keys.toSeq.map(v => (v, find(v)))
      val spark = vertices.sparkSession
      val mapped = spark.createDataFrame(labels).toDF("id", "cluster")
        .select(col("id").cast(idType).as("id"), col("cluster").cast(idType).as("cluster"))
      val isolatedV = vertices.select(col(idCol).as("id"))
        .join(broadcast(mapped.select(col("id"))), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster"))
      return mapped.union(isolatedV)
    }

    // partition the LOOP's frames by edge count, not by the input's
    // layout: each round is a handful of joins over the (usually tiny
    // relative to the corpus) edge-participating subgraph, and a round
    // over 64 inherited partitions is pure task overhead. ~2M edges
    // per partition keeps a billion-edge graph at cluster scale while
    // a small graph iterates in single-task jobs.
    val nParts = math.max(1L, math.min(
      e0.sparkSession.sparkContext.defaultParallelism.toLong,
      nEdges / 2000000L + 1L)).toInt
    val sym = materialize(
      e0.select(col("id_a").as("id"), col("id_b").as("nbr"))
        .union(e0.select(col("id_b").as("id"), col("id_a").as("nbr")))
        .repartition(nParts))
    val endpoints = materialize(sym.select(col("id")).distinct())

    // seed labels with min(id, min neighbor) — one aggregation over the
    // edge list that IS the loop's first neighbor-min round, so star
    // graphs (the common near-dup shape) start already converged.
    var labels = materialize(sym.groupBy(col("id"))
      .agg(least(col("id"), min(col("nbr"))).as("cluster")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrLabels = sym
        .join(labels.select(col("id").as("nbr"), col("cluster").as("__nc")), Seq("nbr"))
        .groupBy(col("id")).agg(min(col("__nc")).as("__minNbr"))
      val stepped = labels.select(col("id"), col("cluster").as("__old"))
        .join(nbrLabels, Seq("id"), "left")
        .select(col("id"), col("__old"),
          least(col("__old"), coalesce(col("__minNbr"), col("__old"))).as("__c1"))
      // pointer jump: a label is itself a vertex id whose label is ≤ it
      // and reachable, so label(label(v)) is a valid (better) label —
      // path halving on the label chains.
      val jump = stepped.select(col("id").as("__c1"), col("__c1").as("__jc"))
      val next = materialize(stepped.join(jump, Seq("__c1"), "left")
        .select(col("id"),
          least(col("__c1"), coalesce(col("__jc"), col("__c1"))).as("cluster"),
          (least(col("__c1"), coalesce(col("__jc"), col("__c1"))) < col("__old")).as("__chg")))
      changed = next.filter(col("__chg")).count()
      labels = next.drop("__chg")
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          "(graph diameter exceeds maxIter)")

    val isolated = vertices.select(col(idCol).as("id"))
      .join(endpoints, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster"))
    labels.union(isolated)
  }

  /** Keep the BEST row of each duplicate cluster: components of the
    * pair graph, then one `max_by` per cluster under `order` (append a
    * deterministic tie-break, e.g. the id itself, for oracle-stable
    * output). Rows not in any pair survive as their own cluster. */
  def clusterDedup(
      df: DataFrame, idCol: String, pairs: DataFrame,
      order: Seq[Column]): DataFrame = {
    val comps = connectedComponents(
      df.select(col(idCol)), pairs.select(col("id_a"), col("id_b")))
    val withComp = df.join(
      comps.select(col("id").as(idCol), col("cluster").as("__cluster")), Seq(idCol))
    Dedup.keepBest(withComp, col("__cluster"), order).drop("__cluster")
  }

  /** Per-cluster summary (size, members kept/dropped) — the audit
    * counterpart of [[clusterDedup]], reference analog of the dup
    * statistics report (deduplicators.py:237-281) lifted from key
    * groups to graph clusters. */
  def clusterStats(comps: DataFrame): DataFrame =
    comps.groupBy(col("cluster")).agg(count(lit(1)).as("size"))
      .agg(
        count(lit(1)).as("clusters"),
        sum(col("size")).as("vertices"),
        sum(when(col("size") > 1, col("size")).otherwise(lit(0))).as("vertices_in_dup_clusters"),
        max(col("size")).as("largest_cluster"),
        sum(col("size") - 1).as("removable"))

  /** SOFT dedup: keep every row, down-WEIGHT duplicate clusters.
    * Each row gains `dup_cluster_size` (|its component| in the pair
    * graph; 1 for rows in no pair) and `soft_weight` = 1/size, so a
    * loss- or sampling-weighted consumer sees each duplicated
    * document with total mass 1 regardless of copy count — the
    * soft alternative to [[clusterDedup]]'s hard removal used when
    * duplicates carry signal (popularity) that outright dropping
    * destroys. Feed `soft_weight` straight into
    * [[Split.weightedSample]] to draw a dedup-aware subset without
    * ever deleting a row.
    *
    * `soft_weight` is rounded to 9 decimals (1/3 etc. must hash
    * identically across engines). Scale shape: components as in
    * [[connectedComponents]], one map-side-combined size count over
    * the label frame, a size join back on the cluster label, and one
    * id-keyed join onto the input — every join key is a long. */
  def softDedupWeights(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(
      df.select(col(idCol)), pairs.select(col("id_a"), col("id_b")))
    val sizes = comps.groupBy(col("cluster")).agg(count(lit(1)).as("dup_cluster_size"))
    val labeled = comps.join(sizes, Seq("cluster"))
      .select(col("id").as(idCol), col("dup_cluster_size"),
        round(lit(1.0) / col("dup_cluster_size"), 9).as("soft_weight"))
    df.join(labeled, Seq(idCol))
  }
}
