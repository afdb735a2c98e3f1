package perfbench

import scala.util.control.NonFatal

import graft.core.GraftSession

/** Benchmark driver: one workload per process, closed loop (one driver
  * thread, one pass at a time) on local[nproc].
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *
  * Set-up generates the inputs SetupRepeats times (median reported as
  * `setup_s`). The first pass runs in the fresh JVM, as a batch job
  * does: it pays class loading, JIT and code generation, and it gives
  * the end-to-end figures. Warm passes follow while `--seconds` have
  * not passed since the first pass started; with `--trace 1` they are
  * at least untraced, traced, untraced, and the per-layer figures come
  * from the traced ones. Every pass is checked; the last
  * stdout line is the result JSON.
  */
object Main {

  val SetupRepeats = 9

  /** Layers with Spark jobs of their own, for the listener figures. */
  val JobLayers = Seq("feature", "mlops", "dedup", "similarity", "core")

  /** Per-layer span timings, in seconds, by span name. */
  val SpanFigures = Seq(
    "feature.tfidf_fit", "feature.tfidf_transform",
    "mlops.nb_fit", "mlops.nb_predict", "mlops.score", "mlops.cv_grid",
    "dedup.exact_pairs", "dedup.shingles", "dedup.signatures",
    "dedup.minhash_candidates", "dedup.simhash_pairs", "dedup.cosine_cells",
    "dedup.components",
    "similarity.ivf_write", "similarity.ivf_merge", "similarity.ivf_compact",
    "similarity.ivf_query", "similarity.knn_cells", "similarity.knn_refine",
    "core.release")

  val CountFigures = Seq(
    "feature.vocab_terms", "mlops.grid_points",
    "dedup.candidate_pairs", "dedup.cluster_edges", "dedup.useful_pair_ratio",
    "similarity.pairs_scored", "similarity.recall_at_k",
    "sources.files_written", "sources.files_after_compact",
    "core.tracked_frames")

  val SelfLayers = Seq("feature", "mlops", "dedup", "similarity", "core", "bench")

  def workload(name: String, seed: Long): Workload = name match {
    case "text_classify" => new TextClassify(seed, nDocs = 3000)
    case "curation" => new Curation(
      new NearDup(seed, nDocs = 3000, planted = 0.1, cells = 8),
      new VectorKnn(seed, n = 1200, nQueries = 200))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  final case class PassRec(index: Int, kind: String, traced: Boolean,
                           runS: Double, itemsPerS: Double,
                           figures: Seq[(String, Double, String)],
                           checks: Seq[(String, Boolean)], hash: String,
                           peakMb: Double, blocks: Long, materializedMb: Double,
                           layer: Map[String, Double], error: Option[String])

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val out = opts("out")
    val slots = Runtime.getRuntime.availableProcessors()
    val w = workload(name, seed)

    val spark = GraftSession.builder(appName = "perfbench",
        master = Some(s"local[$slots]"), shufflePartitions = slots)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val tracer = new Tracer(sc)
    val probe = new Probe(slots, tracer)
    probe.register(spark)

    val before = Machine.stamp(slots)
    println(s"machine before: ${Json(before.fields.toMap)}")

    // ---- set-up: generate and write the inputs, SetupRepeats times ----
    val setupS = (0 until SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      w.setup(spark, s"$work/data/setup-$i", slots)
      (System.nanoTime() - t0) / 1e9
    }
    (0 until SetupRepeats - 1).foreach(i => Files.delete(s"$work/data/setup-$i"))
    val dataDir = s"$work/data/setup-${SetupRepeats - 1}"
    println(f"setup_s runs: ${setupS.map(s => f"$s%.3f").mkString(" ")}")

    // ---- passes ----
    val passes = scala.collection.mutable.ArrayBuffer.empty[PassRec]
    def runPass(kind: String, traced: Boolean): PassRec = {
      val index = passes.size + 1
      tracer.pass = index
      tracer.traced = traced
      probe.startPass()
      val ctx = new Ctx(spark, tracer, traced, dataDir)
      val result =
        try Right(tracer.span("bench.pass")(w.pass(ctx)))
        catch { case NonFatal(e) => e.printStackTrace(); Left(e.toString) }
      // a check that re-runs the program's output (cheap when a traced
      // pass has it cached) is not the program's time
      val runS = tracer.seconds(index, "bench.pass") - tracer.seconds(index, "bench.check")
      probe.fence(sc)
      val (peakMb, blocks, mb) = probe.storage
      val layer = if (traced) probe.layerMetrics(JobLayers :+ "sources") else Map.empty[String, Double]
      tracer.traced = false
      ctx.unforce()
      graft.core.Caches.release(spark)
      Files.deleteMatching(dataDir, "ivf-")
      // wait for non-blocking unpersists, so the next pass starts empty
      val deadline = System.nanoTime() + 20000000000L
      while (probe.heldBytes > 0 && System.nanoTime() < deadline) {
        Thread.sleep(20); probe.fence(sc)
      }
      val rec = result match {
        case Right(o) =>
          PassRec(index, kind, traced, runS,
            if (traced) Double.NaN else w.throughput(tracer, index),
            w.figures(tracer, index), o.checks, o.hash, peakMb, blocks, mb,
            layer ++ o.counts, None)
        case Left(err) =>
          PassRec(index, kind, traced, runS, Double.NaN, Nil,
            Seq(s"pass completes" -> false), "", peakMb, blocks, mb, layer, Some(err))
      }
      passes += rec
      val failed = rec.checks.filterNot(_._2).map(_._1)
      println(f"pass $index%2d $kind%-8s ${if (traced) "traced  " else "untraced"} " +
        f"run_s=${runS}%.3f peak_storage_mb=$peakMb%.2f " +
        rec.figures.map { case (n, v, _) => f"$n=$v%.3f" }.mkString(" ") +
        (if (failed.isEmpty) " checks=ok" else s" FAILED=${failed.mkString("; ")}"))
      rec
    }

    val t0 = System.nanoTime()
    runPass("cold", traced = false)
    var i = 0
    // traced passes sit between untraced ones, so the overhead figure
    // (traced minus the mean of its neighbours) cancels warm-up drift
    while ((trace && i < 3) || (System.nanoTime() - t0) / 1e9 < seconds) {
      runPass("warm", traced = trace && i % 2 == 1)
      i += 1
    }
    val after = Machine.stamp(slots)
    println(s"machine after: ${Json(after.fields.toMap)}")

    // ---- checks across passes: the dedup output must not change ----
    val first = passes.head.hash
    val hashChecks =
      if (w.name != "curation") Nil
      else passes.toSeq.filter(_.error.isEmpty).map(p =>
        s"pass ${p.index} output hash equals the first untraced pass" -> (p.hash == first))
    val allChecks = passes.toSeq.flatMap(_.checks) ++ hashChecks
    val attempted = allChecks.size
    val failed = allChecks.count(!_._2)
    allChecks.filterNot(_._2).distinct.foreach(c => println(s"FAILED CHECK: ${c._1}"))

    // ---- end-to-end figures: the first pass; warm medians for reference ----
    val ok = passes.toSeq.filter(_.error.isEmpty)
    val cold = ok.filter(_.kind == "cold")
    val warm = ok.filter(p => p.kind == "warm" && !p.traced)
    val traced = ok.filter(_.traced)
    def passFigures(ps: Seq[PassRec]): Seq[(String, Double, String)] = Seq(
      ("run_s", median(ps.map(_.runS)), "s"),
      ("items_per_s", median(ps.map(_.itemsPerS)), "items/s"),
      ("peak_storage_mb", median(ps.map(_.peakMb)), "MB")) ++
      ps.headOption.toSeq.flatMap(_.figures).map { case (n, _, u) =>
        (n, median(ps.map(_.figures.find(_._1 == n).get._2)), u)
      }
    val e2e = ("setup_s", median(setupS), "s") +: passFigures(cold).take(3)
    println("end-to-end (first pass in a fresh JVM; setup_s: median of " +
      s"$SetupRepeats; one sample, so no percentile above the median):")
    (e2e ++ passFigures(cold).drop(3) :+
      (("error_rate", failed.toDouble / math.max(1, attempted), "ratio")))
      .foreach { case (n, v, u) => println(f"  $n%-20s $v%14.4f $u") }
    if (warm.nonEmpty) {
      println(s"warm (median of ${warm.size} untraced passes after the first):")
      passFigures(warm).foreach { case (n, v, u) => println(f"  $n%-20s $v%14.4f $u") }
    }

    // ---- per-layer figures (traced passes) ----
    val perLayer: Seq[(String, Double, String)] =
      if (!trace) Nil else {
        def med(f: PassRec => Double) = median(traced.map(f))
        val selfs = traced.map(p => Tracer.selfSeconds(tracer.spansOf(p.index)))
        val spanFigs = SpanFigures.map(s =>
          (s"${s}_s", med(p => tracer.seconds(p.index, s)), "s"))
        val counts = CountFigures.map(n =>
          (n, med(_.layer.getOrElse(n, 0.0)), unitOf(n)))
        val storage = Seq(
          ("core.blocks_materialized", median(warm.map(_.blocks.toDouble)), "count"),
          ("core.materialized_mb", median(warm.map(_.materializedMb)), "MB"))
        val listener = (traced.flatMap(_.layer.keySet).toSet -- CountFigures).toSeq.sorted.map(n =>
          (n, med(_.layer.getOrElse(n, 0.0)), unitOf(n)))
        val self = SelfLayers.map(l =>
          (s"$l.self_s", median(selfs.map(_.getOrElse(l, 0.0))), "s"))
        val overhead = ("trace.overhead_s",
          med(_.runS) - median(warm.map(_.runS)), "s")
        spanFigs ++ counts ++ storage ++ listener ++ self :+ overhead
      }
    if (trace) {
      val table = LayerTable(perLayer, median(warm.map(_.runS)),
        median(traced.map(_.runS)))
      println(table)
      Files.write(out.stripSuffix(".json") + ".layers.txt", table)
    }
    Files.write(out.stripSuffix(".json") + ".spans.jsonl",
      tracer.spans.map(s => Json(Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "pass" -> s.pass,
        "traced" -> passes.find(_.index == s.pass).exists(_.traced),
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))).mkString("\n") + "\n")

    val metrics = (if (trace) perLayer else e2e).map { case (n, v, u) =>
      n -> Map("value" -> v, "unit" -> u)
    }.toMap
    val result = Map("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)
    Files.write(out, Json(Map(
      "workload" -> w.name, "seed" -> seed, "trace" -> trace, "slots" -> slots,
      "machine_before" -> before.fields.toMap, "machine_after" -> after.fields.toMap,
      "setup_s" -> setupS,
      "passes" -> passes.toSeq.map(p => Map(
        "index" -> p.index, "kind" -> p.kind, "traced" -> p.traced,
        "run_s" -> p.runS, "items_per_s" -> p.itemsPerS,
        "figures" -> p.figures.map(f => f._1 -> f._2).toMap,
        "peak_storage_mb" -> p.peakMb, "hash" -> p.hash,
        "failed_checks" -> p.checks.filterNot(_._2).map(_._1),
        "error" -> p.error.orNull)),
      "end_to_end" -> e2e.map(f => f._1 -> f._2).toMap,
      "result" -> result)) + "\n")
    spark.stop()
    Files.delete(s"$work/data")
    println(Json(result))
  }

  def unitOf(metric: String): String = metric.split('.').last match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_mb") => "MB"
    case m if m.startsWith("bytes") => "bytes"
    case "useful_pair_ratio" | "recall_at_k" | "task_skew" => "ratio"
    case _ => "count"
  }
}

/** Per-layer table of a traced run: span self time and the listener's
  * task figures side by side, then the tracing-overhead line.
  */
object LayerTable {
  def apply(figs: Seq[(String, Double, String)], untracedRunS: Double,
            tracedRunS: Double): String = {
    val byName = figs.map(f => f._1 -> f._2).toMap
    val cols = Seq("self_s", "busy_s", "cpu_s", "gc_s", "wait_s", "shuffle_mb",
      "spill_mb", "tasks", "failed_tasks", "task_skew")
    val layers = Seq("feature", "mlops", "dedup", "similarity", "sources", "core", "bench")
    val head = f"${"layer"}%-11s" + cols.map(c => f"$c%13s").mkString
    val rows = layers.map { l =>
      f"$l%-11s" + cols.map(c => byName.get(s"$l.$c")
        .fold(f"${"-"}%13s")(v => f"$v%13.3f")).mkString
    }
    val sql = Seq("analysis_ms", "optimization_ms", "physical_ms")
      .map(p => f"$p=${byName.getOrElse(s"spark_sql.$p", 0.0)}%.0f").mkString(" ")
    (Seq("per-layer (median of traced passes)", head) ++ rows ++ Seq(
      s"spark_sql  $sql",
      f"tracing overhead: traced run_s $tracedRunS%.3f - untraced run_s " +
        f"$untracedRunS%.3f = ${tracedRunS - untracedRunS}%.3f s")).mkString("\n")
  }
}

/** Minimal JSON writer for the result line and the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => apply(k.toString) + ": " + apply(x) }
        .sorted.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => apply(other.toString)
  }
}

/** Local file helpers (the benchmark writes only under its work dir). */
object Files {
  import java.nio.file.{Files => JFiles, Path, Paths}
  import scala.jdk.CollectionConverters._

  def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(JFiles.createDirectories(_))
    JFiles.write(p, text.getBytes("UTF-8"))
  }

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (JFiles.exists(p)) {
      val s = JFiles.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => JFiles.delete(f))
      finally s.close()
    }
  }

  /** Delete every directory under `dir` whose name starts with `prefix`. */
  def deleteMatching(dir: String, prefix: String): Unit = {
    val s = JFiles.walk(Paths.get(dir))
    val hits = try s.iterator().asScala.filter(p => JFiles.isDirectory(p) &&
      p.getFileName.toString.startsWith(prefix)).toList finally s.close()
    hits.foreach(p => delete(p.toString))
  }
}
