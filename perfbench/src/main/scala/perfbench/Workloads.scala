package perfbench

import scala.collection.mutable

import org.apache.spark.ml.feature.CountVectorizerModel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Caches
import graft.dedup.{Components, Dedup}
import graft.feature.TextPipeline
import graft.mlops.{Composition, NaiveBayesOps, Scoring}
import graft.similarity.Similarity
import graft.sources.Sources

/** What one pass hands back: its result checks, a hash of its output,
  * and per-layer counts measured at the layer boundaries.
  */
final case class PassOut(checks: Seq[(String, Boolean)], hash: String,
                         counts: Map[String, Double])

/** Per-pass context. In a traced pass `force` materializes a layer's
  * output inside the layer's span, so the layer's jobs run under its
  * own job group; in an untraced pass it returns the frame unchanged
  * and the work runs wherever the composition first needs it.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val traced: Boolean, val dir: String,
                forced: mutable.ArrayBuffer[DataFrame] = mutable.ArrayBuffer.empty) {
  /** The same pass, reading the inputs under `dir/sub`. */
  def in(sub: String): Ctx = new Ctx(spark, tracer, traced, s"$dir/$sub", forced)

  def span[A](name: String)(body: => A): A = tracer.span(name)(body)

  def force(df: DataFrame): DataFrame =
    if (!traced) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      forced += p
      p
    }

  /** Drop what `force` cached (after the pass is timed). */
  def unforce(): Unit = { forced.foreach(_.unpersist(blocking = true)); forced.clear() }

  def read(name: String): DataFrame = Sources.readParquet(spark, s"$dir/$name")

  /** Release the operators' tracked frames, as a long-lived session
    * does between jobs.
    */
  def release(): Map[String, Double] = {
    val tracked = Caches.trackedCount(spark)
    span("core.release")(Caches.release(spark))
    Map("core.tracked_frames" -> tracked.toDouble)
  }
}

trait Workload {
  def name: String
  /** Generate the inputs and write them under `dir`. */
  def setup(spark: SparkSession, dir: String, files: Int): Unit
  def pass(c: Ctx): PassOut
  /** Named end-to-end figures of one pass, from its spans. */
  def figures(t: Tracer, pass: Int): Seq[(String, Double, String)]
  /** The throughput figure reported as `items_per_s`. */
  def throughput(t: Tracer, pass: Int): Double
}

object Workload {
  def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  def rowsHash(rows: Seq[Row]): String = sha(rows.map(_.mkString("|")).sorted.mkString("\n"))

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def cosine(a: Array[Double], b: Array[Double]): Double =
    dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))

  /** Exact top-k neighbour ids of `q` by cosine (ties to the lower id). */
  def bruteTopK(q: (Long, Array[Double]), corpus: Seq[(Long, Array[Double])],
                k: Int): Set[Long] =
    corpus.iterator.filter(_._1 != q._1)
      .map { case (id, v) => (id, cosine(q._2, v)) }.toSeq
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet

  def nearest(v: Array[Double], centers: Array[Array[Double]]): Int =
    centers.indices.minBy { i =>
      var s = 0.0; var d = 0
      while (d < v.length) { val x = v(d) - centers(i)(d); s += x * x; d += 1 }
      s
    }
}

// ------------------------------------------------------------ text_classify

/** TF-IDF fit + transform, multinomial NB fit, NB predict + score, and a
  * 2-fold CV grid (vocabulary cap × α) over a labelled multilingual
  * corpus. Touches `feature` and `mlops`; never `dedup` or `similarity`.
  */
final class TextClassify(seed: Long, nDocs: Int) extends Workload {
  val name = "text_classify"
  val VocabCap = 2048
  val Caps = Seq(512, 2048)
  val Alphas = Seq(0.5, 1.0)
  val AccuracyFloor = 0.8
  private var data: Inputs.TextSet = _

  def setup(spark: SparkSession, dir: String, files: Int): Unit = {
    data = Inputs.textSet(seed, nDocs)
    Inputs.writeDocs(spark, data.docs, data.isTest, files, s"$dir/docs")
  }

  def pass(c: Ctx): PassOut = {
    import c.spark.implicits._
    val docs = c.read("docs")
    val train = docs.where(col("split") === "train")
    val model = c.span("feature.tfidf_fit") {
      TextPipeline.fitTfidf(train, vocabSize = VocabCap)
    }
    val vocab = model.stages.collectFirst {
      case m: CountVectorizerModel => m.vocabulary
    }.get
    val transformed = model.transform(docs)
    val (badNorms, nonEmpty, tokens) = c.span("feature.tfidf_transform") {
      val n = transformed.select(aggregate(
          org.apache.spark.ml.functions.vector_to_array(col("tfidf")),
          lit(0.0), (a, x) => a + x * x).as("n2"))
        .agg(sum(when(col("n2") > 0 && abs(sqrt(col("n2")) - 1) > 1e-9, 1)
            .otherwise(0)).as("bad"),
          sum(when(col("n2") > 0, 1).otherwise(0)).as("nonempty"))
        .collect()(0)
      // NB consumes the fitted vocabulary's terms, one row per token
      val toks = c.force(transformed
        .select(col("doc_id"), col("split"), explode(col("tokens")).as("term"))
        .join(broadcast(vocab.toSeq.toDF("term")), "term"))
      (n.getLong(0), n.getLong(1), toks)
    }
    val labels = docs.select(col("doc_id"), col("label"), col("split"))
    val trainTokens = tokens.where(col("split") === "train")
      .join(labels.drop("split"), "doc_id")
    val nb = c.span("mlops.nb_fit") {
      NaiveBayesOps.multinomialFit(trainTokens, "label", "term")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("terms"), sum(exp(col("log_prob"))).as("p"))
        .collect()
    }
    val preds = c.span("mlops.nb_predict") {
      c.force(NaiveBayesOps.multinomialPredict(tokens.select("doc_id", "term"),
        "doc_id", "term",
        labels.where(col("split") === "train").select("doc_id", "label"),
        "label"))
    }
    val score = c.span("mlops.score") {
      Scoring.score(preds.join(labels.where(col("split") === "test"), "doc_id"),
        "classify", "label", "pred").collect()(0)
    }
    val grid = c.span("mlops.cv_grid") {
      Composition.cvNbPipelineGrid(train, "doc_id", "text", "label", Caps,
        Alphas, k = 2).collect()
    }
    val counts = c.release()
    // accuracy from the generated labels, not from Scoring's result
    val testPreds = c.span("bench.check") {
      preds.join(labels.where(col("split") === "test").select("doc_id"), "doc_id")
        .select("doc_id", "pred").collect()
        .map(r => r.getLong(0) -> r.get(1).toString).toMap
    }
    val testDocs = data.docs.filter(data.isTest)
    val accuracy = testDocs.count(d => testPreds.get(d.id).contains(d.label))
      .toDouble / testDocs.size
    val chosen = grid.count(r => r.getAs[Any]("chosen") match {
      case b: Boolean => b
      case n: Number => n.intValue == 1
      case _ => false
    })
    val checks = Seq(
      "tfidf rows are unit-norm" -> (badNorms == 0 && nonEmpty >= nDocs * 0.95),
      "nb model rows are distributions" -> (nb.length == 5 && nb.forall(r =>
        math.abs(r.getAs[Double]("p") - 1.0) < 1e-4)),
      s"nb accuracy >= $AccuracyFloor" ->
        (testPreds.size == data.nTest && accuracy >= AccuracyFloor),
      "cv grid has one chosen row" ->
        (grid.length == Caps.size * Alphas.size && chosen == 1))
    PassOut(checks, Workload.rowsHash(grid.toSeq :+ score),
      counts ++ Map("feature.vocab_terms" -> vocab.length.toDouble,
        "mlops.grid_points" -> grid.length.toDouble))
  }

  def figures(t: Tracer, p: Int): Seq[(String, Double, String)] = Seq(
    ("fit_s", Seq("feature.tfidf_fit", "mlops.nb_fit", "mlops.cv_grid")
      .map(t.seconds(p, _)).sum, "s"),
    ("predict_docs_per_s", throughput(t, p), "docs/s"))

  def throughput(t: Tracer, p: Int): Double =
    nDocs / Seq("feature.tfidf_transform", "mlops.nb_predict", "mlops.score")
      .map(t.seconds(p, _)).sum
}

// ---------------------------------------------------------------- near_dup

/** Corpus dedup with provenance: exact ∪ MinHash ∪ SimHash ∪ cell-gated
  * cosine edges, then connected components. Untraced passes call the
  * `Graft.dedupCorpusProvenance` facade; traced passes call the same
  * public functions the facade composes, one span each, and must
  * produce the same output.
  */
final class NearDup(seed: Long, nDocs: Int, planted: Double, cells: Int)
    extends Workload {
  val name = "near_dup"
  val Threshold = 0.9
  private var data: Inputs.DupSet = _

  def setup(spark: SparkSession, dir: String, files: Int): Unit = {
    data = Inputs.dupSet(seed, nDocs, planted, cells)
    Inputs.writeDocs(spark, data.docs, _ => false, files, s"$dir/docs")
    Inputs.writeVectors(spark, data.emb, files, s"$dir/emb")
    Inputs.writeCenters(spark, data.centers, s"$dir/centers")
  }

  private def tagged(df: DataFrame, src: String): DataFrame =
    df.select(col("id_a"), col("id_b"), lit(src).as("src"))

  def pass(c: Ctx): PassOut = {
    /** The generated document a doc is (a copy of). */
    def root(id: Long) = data.copyOf.getOrElse(id, id)
    val docs = c.read("docs").select(col("doc_id"), col("text"))
    val emb = c.read("emb")
    val centers = c.read("centers")
    var counts = Map.empty[String, Double]
    val rows = if (!c.traced) c.span("dedup.provenance") {
      graft.Graft.dedupCorpusProvenance(docs, "doc_id", "text", emb, "vec_id",
        "embedding", centers, "cell", Threshold).collect()
    } else {
      // the facade's composition, layer by layer
      val exact = c.span("dedup.exact_pairs") {
        val hashed = docs.select(col("doc_id"), md5(col("text")).as("_h"))
        c.force(tagged(hashed.select(col("doc_id").as("id_a"), col("_h"))
          .join(hashed.select(col("doc_id").as("id_b"), col("_h")), "_h")
          .where(col("id_a") < col("id_b")), "exact"))
      }
      val sh = c.span("dedup.shingles")(
        c.force(Dedup.shingles(docs, "doc_id", "text")))
      val fused = c.span("dedup.signatures")(
        c.force(Dedup.fusedSignatures(sh, "doc_id", bits = 60)))
      val near = c.span("dedup.minhash_candidates")(c.force(tagged(
        Dedup.minhashBandCandidates(fused.select(col("doc_id"),
          posexplode(col("sig")).as(Seq("h", "minhash"))), "doc_id"),
        "minhash")))
      val sim = c.span("dedup.simhash_pairs")(c.force(tagged(
        Dedup.simhashPairsBlocked(fused.select(col("doc_id"), col("simhash")),
          "doc_id", maxHamming = 3, bits = 60), "simhash")))
      val cos = c.span("dedup.cosine_cells")(c.force(tagged(
        Dedup.embeddingNearDupCells(emb, "vec_id", "embedding", centers,
          "cell", Threshold), "cosine")))
      val out = c.span("dedup.components") {
        Components.provenanceClusters(
          exact.unionByName(near).unionByName(sim).unionByName(cos)).collect()
      }
      val pairs = Seq(exact, near, sim, cos).flatMap(_.select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))))
      val edges = pairs.toSet
      counts = Map(
        "dedup.candidate_pairs" -> pairs.size.toDouble,
        "dedup.cluster_edges" -> edges.size.toDouble,
        "dedup.useful_pair_ratio" -> edges.count { case (a, b) =>
          root(a) == root(b) }.toDouble / math.max(1, pairs.size))
      out
    }
    counts ++= c.release()
    val comp = rows.map(r => r.getAs[Long]("id") -> r.getAs[Long]("comp")).toMap
    val byComp = rows.groupBy(_.getAs[Long]("comp"))
    val checks = Seq(
      "every planted pair shares a cluster" -> data.copyOf.forall {
        case (copy, src) => comp.contains(copy) && comp.get(copy) == comp.get(src)
      },
      "no cluster joins two generated documents" -> byComp.forall {
        case (_, rs) => rs.map(r => root(r.getAs[Long]("id"))).distinct.size == 1
      },
      "one survivor per cluster, sizes match" -> (comp.size == rows.length &&
        byComp.forall { case (_, rs) =>
          rs.count(_.getAs[Any]("is_survivor").toString match {
            case "1" | "true" => true
            case _ => false
          }) == 1 && rs.forall(_.getAs[Long]("cluster_size") == rs.length)
        }))
    PassOut(checks, Workload.rowsHash(rows.toSeq), counts)
  }

  private val dedupSpans = Seq("dedup.provenance", "dedup.exact_pairs",
    "dedup.shingles", "dedup.signatures", "dedup.minhash_candidates",
    "dedup.simhash_pairs", "dedup.cosine_cells", "dedup.components")

  def figures(t: Tracer, p: Int): Seq[(String, Double, String)] =
    Seq(("dedup_docs_per_s", throughput(t, p), "docs/s"))

  def throughput(t: Tracer, p: Int): Double =
    nDocs / dedupSpans.map(t.seconds(p, _)).sum
}

// -------------------------------------------------------------- vector_knn

/** IVF asset life cycle (write half, merge half, compact, batch ANN
  * query) and a cell-gated k-NN graph with one refinement round, over
  * clustered 64-dim vectors. Touches `similarity`, the `plans` distance
  * kernels and the `sources` asset path.
  */
final class VectorKnn(seed: Long, n: Int, nQueries: Int) extends Workload {
  val name = "vector_knn"
  val K = 10
  val NProbe = 2
  val Sample = 50
  val RecallFloor = 0.9
  private var data: Inputs.VecSet = _
  /** Vectors per cell under nearest-centroid assignment. */
  private var cellSizes: Map[Int, Int] = _

  def setup(spark: SparkSession, dir: String, files: Int): Unit = {
    data = Inputs.vecSet(seed, n, nQueries)
    cellSizes = data.corpus.groupMapReduce(v =>
      Workload.nearest(v._2, data.centers))(_ => 1)(_ + _)
    Inputs.writeVectors(spark, data.corpus, files, s"$dir/vectors")
    Inputs.writeVectors(spark, data.queries, files, s"$dir/queries")
    Inputs.writeCenters(spark, data.centers, s"$dir/centers")
  }

  private def recall(found: Map[Long, Set[Long]],
                     sample: Seq[(Long, Array[Double])]): Double =
    sample.map { q =>
      (Workload.bruteTopK(q, data.corpus, K) & found.getOrElse(q._1, Set.empty))
        .size.toDouble / K
    }.sum / sample.size

  def pass(c: Ctx): PassOut = {
    val vectors = c.read("vectors")
    val queries = c.read("queries")
    val centers = c.read("centers")
    val path = s"${c.dir}/ivf-${c.tracer.pass}"
    c.span("similarity.ivf_write") {
      Similarity.writeIvfIndex(vectors.where(col("vec_id") < n / 2), "vec_id",
        "embedding", centers, "cell", path)
    }
    c.span("similarity.ivf_merge") {
      Similarity.mergeIvfIndex(vectors.where(col("vec_id") >= n / 2), "vec_id",
        "embedding", path)
    }
    val (filesBefore, filesAfter) = c.span("similarity.ivf_compact") {
      Similarity.compactIvfIndex(c.spark, path)
    }
    val ann = c.span("similarity.ivf_query") {
      Similarity.queryIvfIndexed(c.spark, path, queries, "vec_id", "embedding",
        NProbe, K).collect()
    }
    val graph = c.span("similarity.knn_cells") {
      c.force(Similarity.knnGraphCells(vectors, "vec_id", "embedding", centers,
        "cell", K))
    }
    val refined = c.span("similarity.knn_refine") {
      Similarity.knnRefine(vectors, "vec_id", "embedding", graph, K).collect()
    }
    val counts = c.release()
    def lists(rows: Array[Row], src: String) =
      rows.groupMap(_.getAs[Long](src))(_.getAs[Long]("neighbor_id"))
        .map { case (k, v) => k -> v.toSet }
    val annLists = lists(ann, "query_id")
    val annRecall = recall(annLists, data.queries.take(Sample))
    val graphRecall = recall(lists(refined, "src_id"), data.corpus.take(Sample))
    println(f"  ann recall@$K=$annRecall%.3f graph recall@$K=$graphRecall%.3f " +
      s"asset files $filesBefore -> $filesAfter (${cellSizes.size} cells)")
    val checks = Seq(
      s"ann recall@$K >= $RecallFloor" -> (annRecall >= RecallFloor),
      s"every query has $K neighbours" -> (annLists.size == nQueries &&
        annLists.values.forall(_.size == K)),
      "compaction leaves one file per cell" ->
        (filesAfter == cellSizes.size && filesBefore >= filesAfter),
      s"refined graph recall@$K >= $RecallFloor" -> (graphRecall >= RecallFloor))
    PassOut(checks, Workload.rowsHash(ann.toSeq),
      counts ++ Map(
        "similarity.recall_at_k" -> annRecall,
        "similarity.pairs_scored" -> cellSizes.values.collect {
          case s if s >= 2 => s.toDouble * (s - 1) }.sum,
        "sources.files_written" -> filesBefore.toDouble,
        "sources.files_after_compact" -> filesAfter.toDouble))
  }

  def figures(t: Tracer, p: Int): Seq[(String, Double, String)] = Seq(
    ("index_build_s", Seq("similarity.ivf_write", "similarity.ivf_merge",
      "similarity.ivf_compact").map(t.seconds(p, _)).sum, "s"),
    ("ann_queries_per_s", throughput(t, p), "queries/s"),
    ("knn_graph_s", Seq("similarity.knn_cells", "similarity.knn_refine")
      .map(t.seconds(p, _)).sum, "s"))

  def throughput(t: Tracer, p: Int): Double =
    nQueries / t.seconds(p, "similarity.ivf_query")
}

// ---------------------------------------------------------------- curation

/** near_dup, then vector_knn, in one pass, each on its own inputs under
  * its own subdirectory. The two share one JVM so that both fit the
  * run budget (see README); their spans, checks and counts stay
  * separate. The throughput figure is near_dup's docs/s.
  */
final class Curation(dedup: NearDup, vectors: VectorKnn) extends Workload {
  val name = "curation"
  private val parts = Seq(dedup, vectors)

  def setup(spark: SparkSession, dir: String, files: Int): Unit =
    parts.foreach(p => p.setup(spark, s"$dir/${p.name}", files))

  def pass(c: Ctx): PassOut = {
    val outs = parts.map(p => p.pass(c.in(p.name)))
    PassOut(outs.flatMap(_.checks), outs.head.hash,
      outs.map(_.counts).reduce((a, b) =>
        a ++ b.map { case (k, v) => k -> (a.getOrElse(k, 0.0) + v) }))
  }

  def figures(t: Tracer, p: Int): Seq[(String, Double, String)] =
    parts.flatMap(_.figures(t, p))

  def throughput(t: Tracer, p: Int): Double = dedup.throughput(t, p)
}
