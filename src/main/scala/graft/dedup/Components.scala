package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Connected components over candidate-pair edges — the cluster-resolution
  * step of a dedup pipeline: near-duplicate PAIRS (from banding, simhash
  * blocks, or cosine) become duplicate CLUSTERS, and each cluster keeps
  * one canonical survivor.
  *
  * Algorithm: min-label propagation with pointer jumping. Every node
  * starts as its own component (label = own id); each round a node first
  * adopts the minimum label among itself and its neighbors, then
  * shortcuts to its label's label (path halving). The shortcut makes the
  * label graph's depth collapse geometrically, so rounds needed are
  * O(log diameter) rather than O(diameter) — a 1M-node chain converges
  * in ~20 rounds instead of 1M. Deterministic — labels are ids, min is
  * total, and the fixpoint (min reachable id) is scheme-independent.
  *
  * 100 TB notes: each round is one join + one groupBy (shuffle on node
  * id); `localCheckpoint` truncates the lineage each round so plan size
  * and stage retries stay O(1) instead of O(iterations) — the classic
  * iterative-DataFrame failure mode. Convergence is detected by counting
  * changed labels (an O(nodes) agg, not a collect). Dedup clusters are
  * short chains (diameter rarely exceeds single digits), so the loop is
  * bounded in practice; `maxIter` is the safety stop.
  */
object Components {

  /** Edges (aCol, bCol) → (id, component) with component = min node id
    * reachable. Nodes are the ids present in edges; isolated docs are
    * their own component and can be unioned in by the caller.
    *
    * Throws if `maxIter` rounds pass without a fixpoint — silently
    * returning partially-propagated labels would split real clusters
    * with no signal. Note `maxIter` INCLUDES the final zero-change
    * confirmation round (the fixpoint is only known once a round
    * changes nothing), so the label-improvement budget is maxIter-1
    * rounds — with pointer jumping that still covers any graph of
    * diameter up to ~2^(maxIter-1), so the throw only fires on a
    * genuine bug.
    */
  /** The RDD holding a localCheckpointed frame's materialized blocks —
    * extracted from the frame's OWN plan (a LogicalRDD leaf), so freeing
    * it can never touch another query's storage. (Diffing
    * `sc.getPersistentRDDs` before/after would race with concurrent
    * queries checkpointing on the shared session — the verify harness
    * runs queries on a thread pool.)
    */
  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** Edge count above which the adjacency is rebuilt as a
    * partitioning-preserving cache (see connectedComponents). Tunable
    * for tests/benchmarks via -Dgraft.components.adjPartitionThreshold.
    */
  private def adjPartitionThreshold: Long =
    sys.props.get("graft.components.adjPartitionThreshold")
      .orElse(sys.env.get("GRAFT_ADJ_PARTITION_THRESHOLD"))
      .map(_.toLong).getOrElse(1000000L)

  /** Edge count BELOW which components are resolved on the driver from
    * one collect of the edge list instead of the distributed label loop:
    * adjacency rows (2×edges after dedup) in [[connectedComponents]],
    * tagged edges in [[provenanceClusters]]. A bench-scale graph
    * (thousands of edges) otherwise pays ~25 SEQUENTIAL 1-task barrier
    * stages — join + groupBy + 2 joins + observe + eager checkpoint per
    * round — where the same fixpoint is microseconds of driver CPU.
    * Above the threshold the checkpointed loop (the 100 TB path) runs
    * unchanged — StressBench's 20M-edge stage never sees the driver
    * path. Driver memory is bounded by the threshold: edges arrive as
    * primitive columns ([[collectEdges]]: 16 B per edge, 20 B with a
    * tag); merging the per-partition chunks and sorting the endpoints
    * ([[driverUnionFind]]) each peak at about twice that, plus 16 B per
    * node and then one result row per node. At 2M edges (≤ 4M nodes)
    * that is ~80 MB of columns and a few hundred MB of result rows,
    * well inside the 8g driver heap.
    * Tunable via -Dgraft.components.driverUfThreshold (tests pin both
    * paths against each other through it).
    */
  private def driverUfThreshold: Long =
    sys.props.get("graft.components.driverUfThreshold")
      .orElse(sys.env.get("GRAFT_DRIVER_UF_THRESHOLD"))
      .map(_.toLong).getOrElse(2000000L)

  /** Edges as primitive columns: (a(i), b(i)) with detector tag
    * `names(tag(i))` (-1 = null tag; `tag` is empty for untagged edges).
    * One per partition on the executors (names = that partition's own
    * dictionary); [[collectEdges]] merges them into one on the driver.
    */
  private final case class EdgeColumns(a: Array[Long], b: Array[Long],
                                       tag: Array[Int], names: Array[String])

  /** The edges of `df` — (long, long) or (long, long, string tag) — on
    * the driver as [[EdgeColumns]], in ONE job: each partition packs its
    * rows into primitive arrays (tags dictionary-coded to small ints), so
    * the driver never holds a boxed row or tuple per edge. Merged tag
    * names are sorted in `sort_array` (UTF-8 byte) order, so ascending
    * tag ids list names the way the distributed path does.
    */
  private def collectEdges(df: DataFrame): EdgeColumns = {
    val tagged = df.schema.length > 2
    val chunks = df.rdd.mapPartitions { rows =>
      val a = Array.newBuilder[Long]
      val b = Array.newBuilder[Long]
      val t = Array.newBuilder[Int]
      val dict = new java.util.HashMap[String, Integer]()
      rows.foreach { r =>
        a += r.getLong(0)
        b += r.getLong(1)
        if (tagged) t += (if (r.isNullAt(2)) -1
          else dict.computeIfAbsent(r.getString(2), _ => dict.size).intValue)
      }
      val names = new Array[String](dict.size)
      dict.forEach((k, v) => names(v) = k)
      Iterator(EdgeColumns(a.result(), b.result(), t.result(), names))
    }.collect()
    val names = chunks.flatMap(_.names).distinct.sortWith((x, y) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0)
    val global = names.zipWithIndex.toMap
    val n = chunks.map(_.a.length).sum
    val a = new Array[Long](n)
    val b = new Array[Long](n)
    val tag = new Array[Int](if (tagged) n else 0)
    var off = 0
    chunks.foreach { c =>
      System.arraycopy(c.a, 0, a, off, c.a.length)
      System.arraycopy(c.b, 0, b, off, c.b.length)
      var i = 0
      while (i < c.tag.length) {
        tag(off + i) = if (c.tag(i) < 0) -1 else global(c.names(c.tag(i)))
        i += 1
      }
      off += c.a.length
    }
    EdgeColumns(a, b, tag, names)
  }

  /** Driver-side min-label union-find over edge columns (a(i), b(i)) —
    * the exact fixpoint [[connectedComponents]]'s loop reaches:
    * comp(id) = min node id reachable from id. Nodes are relabeled to
    * dense indices over the sorted distinct endpoints, so the forest is
    * one int array; path-halving find + union by min root keeps it
    * shallow, and a root is always the minimum index — the minimum id —
    * of its tree. Returns (ids ascending, root index per node).
    */
  private def driverUnionFind(a: Array[Long],
                              b: Array[Long]): (Array[Long], Array[Int]) = {
    val ids = {
      val all = java.util.Arrays.copyOf(a, a.length + b.length)
      System.arraycopy(b, 0, all, a.length, b.length)
      java.util.Arrays.sort(all)
      var n = 0
      var i = 0
      while (i < all.length) {
        if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(all, n)
    }
    val parent = Array.range(0, ids.length)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { // path halving
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    var i = 0
    while (i < a.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, a(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, b(i)))
      // min index becomes the root → root = min of its tree
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 1
    }
    (ids, Array.tabulate(ids.length)(find))
  }

  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20,
                          onRounds: Int => Unit = _ => ()): DataFrame = {

    // The adjacency (both directions of every edge) is the loop's
    // biggest relation and every round joins it on dst. Materialize it
    // once; DISK_ONLY because each round streams it exactly once —
    // holding 2×|edges| rows in storage memory for the whole loop
    // starved an 8g heap at 20M+ edges (UNABLE_TO_ACQUIRE_MEMORY).
    val adjBase = edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(edges.select(col(bCol).cast("long").as("src"),
        col(aCol).cast("long").as("dst")))
      .distinct()
      .localCheckpoint(eager = true, storageLevel = StorageLevel.DISK_ONLY)
    // Past ~1M edges the loop's dominant cost is re-shuffling + re-sorting
    // the adjacency for EVERY round's sort-merge join (a checkpointed
    // frame has UnknownPartitioning under AQE, so Catalyst must exchange
    // it each time). Rebuild it as a hash-partitioned, per-partition-
    // sorted CACHE: a cached plan keeps outputPartitioning/outputOrdering
    // visible to consumers (AQE is disabled inside cached subplans by
    // default — canChangeCachedPlanOutputPartitioning=false), so every
    // round's adj⋈labels join reuses the layout — zero exchange and zero
    // sort on the 2×|edges| side, per round. Measured at 22.5M edges /
    // 10 rounds: 305s → 189s (and 2M edges: 15.2s → 10.6s). Below the
    // threshold the extra build shuffle + columnar cache write costs more
    // than the ~3 rounds of tiny exchanges it saves (~1.4× on the sf0.1
    // bench graphs), so small graphs keep the plain checkpoint. The
    // count is free — it streams the already-materialized checkpoint.
    // The base checkpoint stays resident behind the cache for the loop's
    // lifetime (it IS the cache's recompute source — localCheckpoint
    // truncated the lineage above it): 2× the adjacency on disk, zero
    // extra memory, freed together at the end.
    val nAdjRows = adjBase.count()
    // Small-graph rung (r22): the fixpoint of min-label propagation is
    // plain connected components, so below the threshold compute it
    // driver-side from the already-materialized checkpoint (one collect
    // of slim long pairs) instead of paying the loop's per-round
    // barrier stages. Identical output by definition of the fixpoint
    // (comp = min reachable id, the label loop's invariant);
    // ComponentsSpec pins both paths against each other.
    if (nAdjRows < driverUfThreshold) {
      val spark = edges.sparkSession
      import spark.implicits._
      val adj = collectEdges(adjBase.select(col("src"), col("dst")))
      val (ids, root) = driverUnionFind(adj.a, adj.b)
      checkpointRdd(adjBase).foreach(_.unpersist(blocking = true))
      onRounds(0) // no distributed rounds ran
      return spark.createDataset(
        spark.sparkContext.parallelize(
          ids.indices.map(i => (ids(i), ids(root(i)))),
          math.max(1, spark.sparkContext.defaultParallelism / 4)))
        .toDF("id", "comp")
    }
    val adj =
      if (nAdjRows < adjPartitionThreshold) adjBase
      else adjBase
        .repartition(col("dst"))
        .sortWithinPartitions(col("dst"))
        .persist(StorageLevel.DISK_ONLY)
    // Label checkpoints store SERIALIZED on large graphs: the default
    // deserialized MEMORY_AND_DISK holds every label row as an object
    // (~70B for a 2-long row vs ~20B serialized). With two round-frames
    // resident plus join execution memory, deserialized labels put the
    // 22.5M-node stress graph within GC-timing distance of an 8g heap —
    // the same run would pass or OOM depending on ambient load.
    // Serialized blocks are ~3× smaller and unroll incrementally. Below
    // the same threshold that gates the adjacency cache, the per-round
    // serialize/deserialize CPU outweighs the heap it saves (measured:
    // unconditional SER cost dedup_provenance_clusters 3.5→5.0s at
    // sf0.1), so small graphs keep the deserialized default.
    val labelLevel =
      if (nAdjRows < adjPartitionThreshold) StorageLevel.MEMORY_AND_DISK
      else StorageLevel.MEMORY_AND_DISK_SER
    // Initial label = min(id, min neighbor): the first propagate round's
    // result from ONE groupBy over adj (both directions are present, so
    // every node is a src) — no join, and one fewer loop round. The loop
    // still runs to a zero-change fixpoint, so labels are unaffected.
    var comp = adj
      .groupBy(col("src"))
      .agg(min(col("dst")).as("_nmin"))
      .select(col("src").as("id"),
        least(col("src"), col("_nmin")).as("comp"))
      .localCheckpoint(eager = true, storageLevel = labelLevel)
    // One propagate-and-jump step, lazily composed: adopt the min label
    // among self and neighbors, then pointer-jump to the label's label
    // (path halving — depth of the label forest collapses geometrically).
    // Labels are node ids and label(id) <= id, so the self-join always
    // resolves. Output: (id, comp = step input label, next = new label).
    def step(c: DataFrame): DataFrame = {
      val neighborMin = adj
        .join(c.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src"))
        .agg(min(col("comp")).as("ncomp"))
      val propagated = c
        .join(neighborMin.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"), col("comp"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("half"))
      val labelOfLabel = propagated
        .select(col("id").as("half"), col("half").as("jump"))
      propagated
        .join(labelOfLabel, Seq("half"))
        .select(col("id"), col("comp"),
          least(col("half"), col("jump")).as("next"))
    }
    var converged = false
    var i = 0
    // The previous round's checkpointed label frame: nothing references
    // it once the new round's checkpoint exists, but its blocks stay in
    // storage memory until explicitly freed. At graph scale (20M+
    // edges → ~0.5 GB of label blocks PER ROUND) leaving ~11 rounds
    // resident starves execution memory — the 20M-edge StressBench
    // stage died with UNABLE_TO_ACQUIRE_MEMORY before this free.
    var prevRound: Option[org.apache.spark.rdd.RDD[_]] = checkpointRdd(comp)
    while (!converged && i < maxIter) {
      // The convergence count rides the checkpoint materialization via
      // observe(): ONE job per round instead of checkpoint + count.
      // (Composing TWO lazy steps per barrier was measured SLOWER —
      // 3.6s vs 2.9s on the pipeline capstone — the doubled join DAG
      // per job costs more than the barrier it saves.)
      val obs = org.apache.spark.sql.Observation()
      val updated = step(comp)
        .observe(obs,
          sum(when(col("next") < col("comp"), 1L).otherwise(0L))
            .as("changed"))
        .localCheckpoint(eager = true, storageLevel = labelLevel)
      val changed = obs.get("changed").asInstanceOf[Long]
      comp = updated.select(col("id"), col("next").as("comp"))
      // The new checkpoint is materialized (localCheckpoint is eager),
      // so the previous round's blocks are now unreachable — free them.
      prevRound.foreach(_.unpersist(blocking = true))
      prevRound = checkpointRdd(updated)
      converged = changed == 0
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: no fixpoint after $maxIter rounds — " +
        "labels would be wrong (clusters split); raise maxIter")
    onRounds(i) // diagnostic: rounds INCLUDING the zero-change confirm
    // The adjacency served only the loop; the returned frame is a
    // projection of the LAST round's checkpoint (kept resident).
    if (!(adj eq adjBase)) adj.unpersist(blocking = true)
    checkpointRdd(adjBase).foreach(_.unpersist(blocking = true))
    comp
  }

  /** Components over the union of `nodes` and the edge endpoints: every
    * id in `nodes` gets a row (ids touching no edge become their own
    * singleton component — closing the caller footgun of
    * [[connectedComponents]], whose node set is edge endpoints only),
    * and endpoints OUTSIDE `nodes` stay visible too (see the full-outer
    * rationale below). One full-outer join after the fixpoint loop; the
    * loop itself still runs on the (typically much smaller)
    * edge-endpoint set.
    */
  def connectedComponentsAll(edges: DataFrame, aCol: String, bCol: String,
                             nodes: DataFrame, nodeCol: String,
                             maxIter: Int = 20): DataFrame = {
    val comp = connectedComponents(edges, aCol, bCol, maxIter)
    // Output universe = nodes ∪ edge endpoints. Restricting to `nodes`
    // alone would silently DROP endpoints outside it — and if the
    // dropped endpoint was a cluster's min id, the cluster would keep a
    // component label pointing at a vanished node and no member would
    // carry is_survivor=1 (a downstream keep-survivors filter then
    // deletes every copy). Edge ids outside the declared universe are a
    // caller inconsistency; keeping them visible is the diagnosable
    // behavior, losing them is not.
    nodes.select(col(nodeCol).cast("long").as("id")).distinct()
      .join(comp, Seq("id"), "full_outer")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Components plus survivor marking: within each cluster the minimum id
    * is the canonical copy (`is_survivor`), everything else is a
    * removable duplicate.
    */
  def dedupClusters(edges: DataFrame, aCol: String, bCol: String,
                    onRounds: Int => Unit = _ => ()): DataFrame =
    connectedComponents(edges, aCol, bCol, onRounds = onRounds)
      .withColumn("is_survivor", (col("id") === col("comp")).cast("int"))

  /** [[dedupClusters]] over the full node universe: isolated nodes are
    * singleton clusters (their own survivor) rather than absent.
    */
  def dedupClustersAll(edges: DataFrame, aCol: String, bCol: String,
                       nodes: DataFrame, nodeCol: String): DataFrame =
    connectedComponentsAll(edges, aCol, bCol, nodes, nodeCol)
      .withColumn("is_survivor", (col("id") === col("comp")).cast("int"))

  /** Clusters over provenance-tagged edges (id_a, id_b, src): components
    * on the distinct pair set, plus per-cluster `sources` — the sorted
    * distinct detector tags (e.g. "exact,minhash") whose edges touch the
    * cluster. Which detector found a duplicate matters operationally
    * (exact is certain, cosine is a judgment call), so the tag set rides
    * with every cluster instead of being lost in the union. Output:
    * (id long, comp long, is_survivor int, cluster_size long,
    * sources string), one row per node.
    *
    * Below [[driverUfThreshold]] tagged edges the clusters are resolved
    * on the driver from one collect of the checkpointed edges and
    * returned as a local frame; above it (the 100 TB path) the
    * distributed loop runs, and provenance aggregation is one distinct +
    * groupBy on (comp, src) — O(edges) with tiny cardinality per group —
    * while the cluster-size window and source join both shuffle on comp,
    * the same key the components loop already used.
    */
  def provenanceClusters(edgesProv: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The tagged edge set fans out to BOTH the components loop and the
    // provenance aggregation — materialize it once or every detector
    // (minhash banding, simhash blocking, cosine pairs) runs twice.
    // Corpus-proportional → DISK_ONLY blocks (r9 criterion).
    // localCheckpoint(eager), not a lazy persist (r22, Drill-measured):
    // the consumers launch several jobs whose subtrees all reference
    // this frame, and racing a lazy persist they re-ran the whole
    // four-detector union up to 5x. Eager = one detector pass; the
    // truncated lineage also shrinks every later consumer's task binary
    // to a LogicalRDD scan. The edge count rides the same job (observe),
    // so choosing the driver path costs no extra job. It is read from
    // the checkpoint's own executed plan, whose metrics are final when
    // the eager job returns — an Observation would instead wait for the
    // asynchronous listener bus to deliver the query's end event.
    val counted = edgesProv.observe("graft_edge_count", count(lit(1)).as("n"))
    val edges = counted
      .localCheckpoint(eager = true, storageLevel = StorageLevel.DISK_ONLY)
    val nEdges = counted.queryExecution.observedMetrics("graft_edge_count")
      .getLong(0)
    if (nEdges < driverUfThreshold) {
      val out = driverProvenance(edges)
      checkpointRdd(edges).foreach(_.unpersist(blocking = true))
      return out
    }
    // Blocks land at the AQE-coalesced width and Caches.release frees
    // them via the plan's LogicalRDD leaf.
    graft.core.Caches.track(edges)
    val comp = dedupClusters(
      edges.select(col("id_a"), col("id_b")).distinct(), "id_a", "id_b")
    val clusterSrc = edges
      .join(comp.select(col("id").as("id_a"), col("comp")), "id_a")
      .select(col("comp"), col("src")).distinct()
      .groupBy(col("comp"))
      .agg(concat_ws(",", sort_array(collect_set(col("src")))).as("sources"))
    comp
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("comp"))))
      .join(clusterSrc, "comp")
      .select(col("id"), col("comp"), col("is_survivor"),
        col("cluster_size"), col("sources"))
  }

  /** [[provenanceClusters]] resolved on the driver: one collect of the
    * tagged edges as primitive columns, [[driverUnionFind]], then per
    * cluster its size and the set of tag ids (ascending tag id = sorted
    * name, so `sources` reads as the distributed path's
    * sort_array(collect_set(src))). A null src tags nothing, as
    * collect_set skips nulls. Returns a local frame ordered by id.
    */
  private def driverProvenance(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = collectEdges(edges.select(col("id_a").cast("long"),
      col("id_b").cast("long"), col("src").cast("string")))
    val (ids, root) = driverUnionFind(e.a, e.b)
    val size = new Array[Long](ids.length)
    root.foreach(r => size(r) += 1)
    // an edge's tag goes to its endpoints' cluster (both share it)
    val tags = new Array[java.util.BitSet](ids.length)
    var i = 0
    while (i < e.a.length) {
      val r = root(java.util.Arrays.binarySearch(ids, e.a(i)))
      if (tags(r) == null) tags(r) = new java.util.BitSet(e.names.length)
      if (e.tag(i) >= 0) tags(r).set(e.tag(i))
      i += 1
    }
    val sources = tags.map(t => if (t == null) null
      else t.stream().toArray.map(e.names(_)).mkString(","))
    ids.indices.map { i =>
      val r = root(i)
      (ids(i), ids(r), if (r == i) 1 else 0, size(r), sources(r))
    }.toDF("id", "comp", "is_survivor", "cluster_size", "sources")
  }
}
