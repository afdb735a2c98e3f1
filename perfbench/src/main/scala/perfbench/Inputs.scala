package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything the program reads is produced here
  * and written as parquet during set-up; the same seed gives the same
  * rows, byte for byte. The driver keeps the ground truth (labels,
  * planted copies, vectors) in memory for the result checks.
  */
object Inputs {

  val Langs: Vector[String] = Vector("en", "de", "fr", "es")

  /** Zipf-Mandelbrot sampler over ranks 0 until n: p(r) ∝ 1/(r+q)^s.
    * The offset q flattens the head so that unrelated documents rarely
    * share a word 3-gram, which keeps the near-duplicate detectors'
    * false-positive rate low on the generated corpus.
    */
  final class Zipf(n: Int, s: Double, q: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1 + q, s))
      val out = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += w(i); out(i) = acc; i += 1 }
      i = 0
      while (i < n) { out(i) /= acc; i += 1 }
      out
    }
    def sample(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** One generated document: a language, a topic label and its words. */
  final case class Doc(id: Long, lang: String, label: String,
                       words: Array[String]) {
    def text: String = words.mkString(" ")
  }

  /** Multilingual topic corpus. Every token carries its language
    * (`de_w123`); a quarter of the tokens come from the document's
    * topic vocabulary, the rest from the language's general vocabulary.
    */
  final class Corpus(seed: Long, nTopics: Int = 5, vocab: Int = 20000,
                     topicVocab: Int = 400) {
    private val general = new Zipf(vocab, 1.05, 20.0)
    private val topical = new Zipf(topicVocab, 1.0, 5.0)

    def doc(id: Long, rng: SplittableRandom): Doc = {
      val lang = Langs(rng.nextInt(Langs.size))
      val topic = rng.nextInt(nTopics)
      val len = 40 + rng.nextInt(21)
      val words = Array.fill(len) {
        if (rng.nextDouble() < 0.25) s"${lang}_t${topic}_${topical.sample(rng)}"
        else s"${lang}_w${general.sample(rng)}"
      }
      Doc(id, lang, s"topic$topic", words)
    }

    def docs(n: Int): Vector[Doc] = {
      val rng = new SplittableRandom(seed)
      Vector.tabulate(n)(i => doc(i.toLong, rng))
    }

    /** A general-vocabulary word of the document's language, used as
      * the replacement in an edited copy.
      */
    def word(lang: String, rng: SplittableRandom): String =
      s"${lang}_w${general.sample(rng)}"
  }

  private def gaussian(rng: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = math.max(rng.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  private def unitCenters(k: Int, dim: Int,
                          rng: SplittableRandom): Array[Array[Double]] =
    Array.fill(k) {
      val v = Array.fill(dim)(gaussian(rng))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }

  private def around(c: Array[Double], sigma: Double,
                     rng: SplittableRandom): Array[Double] =
    c.map(x => x + sigma * gaussian(rng))

  // ---------------------------------------------------------------- sets

  /** text_classify input: labelled docs with a fixed train/test split. */
  final case class TextSet(docs: Vector[Doc]) {
    def isTest(d: Doc): Boolean = d.id % 5 == 0
    lazy val nTest: Int = docs.count(isTest)
  }

  def textSet(seed: Long, nDocs: Int): TextSet =
    TextSet(new Corpus(seed).docs(nDocs))

  /** near_dup input: a corpus in which a fraction of the documents are
    * edited copies of other documents (0–3 word substitutions; zero
    * edits is an exact copy), plus one embedding per document. A copy's
    * embedding is its source's plus noise 1000x smaller than the spread
    * inside a cell, so planted pairs lie close together.
    */
  final case class DupSet(docs: Vector[Doc], copyOf: Map[Long, Long],
                          emb: Vector[(Long, Array[Double])],
                          centers: Array[Array[Double]])

  def dupSet(seed: Long, nDocs: Int, plantedFraction: Double,
             cells: Int, dim: Int = 32): DupSet = {
    val corpus = new Corpus(seed)
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val nCopies = (nDocs * plantedFraction).toInt
    val nBase = nDocs - nCopies
    val base = {
      val r = new SplittableRandom(seed)
      Vector.tabulate(nBase)(i => corpus.doc(i.toLong, r))
    }
    val centers = unitCenters(cells, dim, rng)
    val baseEmb = base.map(d =>
      around(centers(rng.nextInt(cells)), 0.35, rng))
    val copies = (0 until nCopies).map { j =>
      val src = rng.nextInt(nBase)
      val s = base(src)
      val w = s.words.clone()
      (0 until rng.nextInt(4)).foreach { _ =>
        w(rng.nextInt(w.length)) = corpus.word(s.lang, rng)
      }
      val id = (nBase + j).toLong
      (Doc(id, s.lang, s.label, w), src.toLong,
        around(baseEmb(src), 0.00035, rng))
    }
    DupSet(
      base ++ copies.map(_._1),
      copies.map(c => c._1.id -> c._2).toMap,
      base.indices.map(i => (i.toLong, baseEmb(i))).toVector ++
        copies.map(c => (c._1.id, c._3)),
      centers)
  }

  /** vector_knn input: clustered vectors (one generating cluster per
    * IVF cell, cells ≈ n/200) and a disjoint query set drawn from the
    * same clusters.
    */
  final case class VecSet(corpus: Vector[(Long, Array[Double])],
                          queries: Vector[(Long, Array[Double])],
                          centers: Array[Array[Double]])

  val QueryIdBase = 1L << 40

  def vecSet(seed: Long, n: Int, nQueries: Int, dim: Int = 64): VecSet = {
    val rng = new SplittableRandom(seed)
    val cells = math.max(2, n / 200)
    val centers = unitCenters(cells, dim, rng)
    def draw(id: Long) = (id, around(centers(rng.nextInt(cells)), 0.08, rng))
    VecSet(Vector.tabulate(n)(i => draw(i.toLong)),
      Vector.tabulate(nQueries)(i => draw(QueryIdBase + i)), centers)
  }

  // ------------------------------------------------------------ parquet

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("label", StringType, nullable = false),
    StructField("split", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  /** Centroids in the program's long form: (cell, dim, c), dims 1-based. */
  private val centerSchema = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("dim", IntegerType, nullable = false),
    StructField("c", DoubleType, nullable = false)))

  /** Write `rows` as `files` parquet files (a fixed, seed-independent
    * split, so the program's scan parallelism does not depend on data).
    */
  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
                    files: Int, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(path)

  def writeDocs(spark: SparkSession, docs: Seq[Doc], isTest: Doc => Boolean,
                files: Int, path: String): Unit =
    write(spark, docs.map(d => Row(d.id, d.lang, d.label,
      if (isTest(d)) "test" else "train", d.text)), docSchema, files, path)

  def writeVectors(spark: SparkSession, vs: Seq[(Long, Array[Double])],
                   files: Int, path: String): Unit =
    write(spark, vs.map { case (id, v) => Row(id, v.toSeq) }, vecSchema,
      files, path)

  def writeCenters(spark: SparkSession, cs: Array[Array[Double]],
                   path: String): Unit =
    write(spark, for { (c, i) <- cs.toSeq.zipWithIndex; (x, d) <- c.zipWithIndex }
      yield Row(i, d + 1, x), centerSchema, 1, path)
}
