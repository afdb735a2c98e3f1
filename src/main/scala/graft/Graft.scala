package graft

import graft.dedup.Dedup
import graft.mlops.{ClusterOps, Composition, LinearOps, NaiveBayesOps}
import graft.operators.{Blocking, Relational}
import graft.similarity.Similarity
import graft.stats.Moments
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** One-import facade over the engine — the surface a sparkit-learn user
  * lands on when switching. Names follow the reference's vocabulary
  * (block/fit/transform) and delegate to the module implementations;
  * every method returns a lazy DataFrame plan, so composition stays in
  * Catalyst's hands.
  *
  * {{{
  * import graft.Graft
  * val docs   = spark.read.parquet(".../documents.parquet")
  * val vocab  = Graft.countVectorizeFit(docs, "doc_id", "text")
  * val nearDups = Graft.minhashNearDuplicates(docs, "doc_id", "text", 0.5)
  * val topK   = Graft.cosineTopK(embeddings, queries, "vec_id", "embedding", 10)
  * }}}
  */
object Graft {

  /** Release every cache an operator persisted internally for `spark`
    * (the frames [[graft.core.Caches]] tracks because their lazy
    * results could not unpersist before returning). Call at job
    * boundaries in a long-lived session — a query service, a bench
    * loop, a notebook — AFTER materializing the results you need;
    * released frames recompute from lineage, so this is always safe
    * for correctness. Returns the number of frames released.
    */
  def releaseCaches(spark: SparkSession): Int =
    graft.core.Caches.release(spark)

  // ---- dataflow (reference BlockRDD surface) ----
  def block(df: DataFrame, bsize: Int, orderCols: Seq[Column]): DataFrame =
    Blocking.withBlockId(df, bsize, orderCols)
  def blockLocal(df: DataFrame, bsize: Int): DataFrame =
    Blocking.withPartitionLocalBlockId(df, bsize)
  def zip(a: DataFrame, aOrder: Seq[Column], b: DataFrame, bOrder: Seq[Column]): DataFrame =
    Relational.zipWithPosition(a, aOrder, b, bOrder)

  // ---- relational extensions ----
  def asofJoin(left: DataFrame, right: DataFrame, leftKey: String,
               rightKey: String, leftTime: String, rightTime: String,
               rightOrder: String, as: String): DataFrame =
    Relational.asofJoin(left, right, leftKey, rightKey, leftTime, rightTime,
      rightOrder, as)
  def topKPerGroup(df: DataFrame, part: Seq[Column], order: Seq[Column], k: Int): DataFrame =
    Relational.topKPerGroup(df, part, order, k)
  def sessionize(df: DataFrame, key: String, ts: String, tieBreak: String,
                 gapMinutes: Int): DataFrame =
    Relational.sessionize(df, key, ts, tieBreak, gapMinutes)

  // ---- feature extraction ----
  def tfidfPipeline(vocabSize: Int = 1 << 18): org.apache.spark.ml.Pipeline =
    feature.TextPipeline.tfidfPipeline(vocabSize = vocabSize)
  /** Global vocabulary with deterministic sort-based indices.
    *
    * ⚠ Scale note: `term_idx` comes from `row_number` over an
    * UNPARTITIONED window — a single-partition global sort over the
    * vocabulary. Fine for verification and vocabularies that fit one
    * executor (vocab size ≪ corpus size, typically ≤ millions of terms),
    * but for the 100 TB path use [[tfidfPipeline]] /
    * `feature.TextPipeline` (ml `CountVectorizer`/`HashingTF`), whose
    * hash-based indices need no global sort.
    */
  def countVectorizeFit(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term"))
      .agg(countDistinct(col(idCol)).as("df"), count(lit(1)).as("tf"))
      .withColumn("term_idx",
        (row_number().over(Window.orderBy(col("term"))) - 1).cast("long"))
  }

  // ---- stats / models ----
  def varianceThreshold(df: DataFrame, features: Seq[String], t: Double): DataFrame =
    Moments.varianceThreshold(df, features, t)
  def standardScale(df: DataFrame, valueCol: String, outCol: String): DataFrame =
    Moments.standardScale(df, valueCol, outCol)
  def olsFit(df: DataFrame, x: String, y: String): DataFrame =
    LinearOps.olsFit(df, x, y)
  def naiveBayesFit(tokens: DataFrame, classCol: String, termCol: String): DataFrame =
    NaiveBayesOps.multinomialFit(tokens, classCol, termCol)
  def naiveBayesPredict(docTokens: DataFrame, docCol: String, termCol: String,
                        classDocs: DataFrame, classCol: String): DataFrame =
    NaiveBayesOps.multinomialPredict(docTokens, docCol, termCol, classDocs, classCol)
  def kmeansAssign(pointsLong: DataFrame, centersLong: DataFrame,
                   idCol: String, centerCol: String): DataFrame =
    ClusterOps.assignToCenters(pointsLong, centersLong, idCol, centerCol)
  def svdProject(df: DataFrame, idCol: String, arrCol: String, k: Int): DataFrame =
    ClusterOps.svdProject(df, idCol, arrCol, k)
  def gridSearchLogistic(df: DataFrame, featuresArr: String, labelCol: String)
      : org.apache.spark.ml.tuning.CrossValidatorModel =
    Composition.gridSearchLogistic(df, featuresArr, labelCol)

  // ---- training-data pipeline ----
  def dedupExact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.dropExactDuplicates(docs, idCol, textCol)
  /** Near-duplicate pairs above a Jaccard threshold via the banded
    * MinHash pipeline (candidates only — the 100 TB path end to end).
    */
  def minhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            threshold: Double): DataFrame = {
    val sh = Dedup.shingles(docs, idCol, textCol)
    val sig = Dedup.minhashSignatures(sh, idCol)
    val cand = Dedup.minhashBandCandidates(sig, idCol)
    Dedup.jaccardPairs(sh, idCol, threshold, candidates = Some(cand))
  }
  /** Two-stage fuzzy dedup, edit-distance flavor: banded-minhash
    * candidates verified by exact Levenshtein ratio <= maxRatio
    * (candidate-bounded, never corpus-quadratic).
    */
  def editVerifiedNearDuplicates(docs: DataFrame, idCol: String,
                                 textCol: String,
                                 maxRatio: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.functions._
    val sig = Dedup.minhashSignatures(
      Dedup.shingles(docs, idCol, textCol), idCol)
    val cand = Dedup.minhashBandCandidates(sig, idCol)
    editVerifyPairs(cand, docs, idCol, textCol)
      .where(col("edit_ratio") <= maxRatio)
  }

  /** Exact-Levenshtein verdict columns for candidate pairs (id_a, id_b):
    * attaches both texts and emits `edit_dist` + `edit_ratio`. The
    * O(|a|·|b|) levenshtein is evaluated ONCE per pair — the ratio is
    * derived from the `edit_dist` column in a second projection, and
    * CollapseProject keeps a non-cheap alias referenced twice
    * un-inlined, so this does not rely on codegen subexpression
    * elimination. A both-empty pair is ratio 0.0 by definition
    * (identical empties ARE duplicates — not a null to drop).
    */
  def editVerifyPairs(cand: DataFrame, docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    cand
      .join(docs.select(col(idCol).as("id_a"), col(textCol).as("_ta")),
        "id_a")
      .join(docs.select(col(idCol).as("id_b"), col(textCol).as("_tb")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("_ta"), col("_tb")).as("edit_dist"),
        greatest(length(col("_ta")), length(col("_tb"))).as("_maxlen"))
      .select(col("id_a"), col("id_b"), col("edit_dist"),
        when(col("_maxlen") === 0, lit(0.0))
          .otherwise(round(col("edit_dist").cast("double") / col("_maxlen"), 4))
          .as("edit_ratio"))
  }
  /** SimHash near-duplicate pairs at scale: Manku multi-block candidate
    * index over wide signatures, exact recall within `maxHamming`.
    */
  def simhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int = 3, bits: Int = 60): DataFrame = {
    val sig = Dedup.simhash(Dedup.shingles(docs, idCol, textCol), idCol, bits)
    Dedup.simhashPairsBlocked(sig, idCol, maxHamming, bits)
  }

  // ---- one-pass "all detectors" signature surface ----
  // Each single-detector method above scans the corpus once; running
  // several detectors that way scans it once PER DETECTOR — the dominant
  // cost at 100 TB. The signature table below holds every detector's
  // signature, one row per doc, from one row-local pass; persist (or
  // localCheckpoint) it and derive each detector's view from it without
  // touching the corpus again.

  /** One-scan signature table (idCol, `sig array<long>` minhash family,
    * `simhash long`), computed in-row per doc ([[Dedup.docSignatures]]) —
    * bit-identical to [[Dedup.fusedSignatures]] and the separate
    * [[Dedup.minhashSignatures]]/[[Dedup.simhash]] passes (spec-pinned).
    * One row per doc: cheap to persist, tiny next to the corpus.
    */
  def corpusSignatures(docs: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 8, bits: Int = 60): DataFrame =
    Dedup.docSignatures(docs, idCol, textCol, numHashes = numHashes,
      bits = bits)
  /** Banded-minhash candidate pairs from a [[corpusSignatures]] frame. */
  def minhashCandidatesFromSignatures(fused: DataFrame,
                                      idCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, posexplode}
    Dedup.minhashBandCandidates(
      fused.select(col(idCol), posexplode(col("sig")).as(Seq("h", "minhash"))),
      idCol)
  }
  /** Static (band, band_sig) index from a [[corpusSignatures]] frame —
    * the [[nearDupGate]] corpus side, derived without a fresh corpus scan.
    */
  def bandIndexFromSignatures(fused: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, posexplode}
    Dedup.bandSignatures(
        fused.select(col(idCol),
          posexplode(col("sig")).as(Seq("h", "minhash"))), idCol)
      .select(col("band"), col("band_sig")).distinct()
  }
  /** Manku-blocked simhash pairs from a [[corpusSignatures]] frame. */
  def simhashPairsFromSignatures(fused: DataFrame, idCol: String,
                                 maxHamming: Int = 3,
                                 bits: Int = 60): DataFrame = {
    import org.apache.spark.sql.functions.col
    Dedup.simhashPairsBlocked(fused.select(col(idCol), col("simhash")),
      idCol, maxHamming, bits)
  }
  /** Embedding near-duplicate pairs, SemDeDup cell-gated (the 100 TB
    * path): nearest-centroid assignment, exact cosine inside each cell
    * only. `centersLong` is the centroid set in long form (centerCol,
    * dim, c) — per-label means or a [[kmeansAssign]]-style fit both
    * work; cross-cell pairs are forgone by design (the published
    * SemDeDup recall tradeoff). For exhaustive small-scale verification
    * use [[cosineNearDuplicatesExact]], whose name says what it costs.
    */
  def cosineNearDuplicates(emb: DataFrame, idCol: String, arrCol: String,
                           centersLong: DataFrame, centerCol: String,
                           threshold: Double): DataFrame =
    Dedup.embeddingNearDupCells(emb, idCol, arrCol, centersLong, centerCol,
      threshold)
  /** EXACT all-pairs cosine near-duplicates — quadratic in |emb|;
    * verification scale only. The scale path is [[cosineNearDuplicates]].
    */
  def cosineNearDuplicatesExact(emb: DataFrame, idCol: String, arrCol: String,
                                threshold: Double): DataFrame =
    Dedup.embeddingNearDup(emb, idCol, arrCol, threshold)
  /** End-to-end corpus dedup: exact-duplicate edges ∪ banded-minhash
    * near-dup edges → connected components → one canonical survivor per
    * cluster. Returns (id, component, is_survivor) — filter
    * `is_survivor = 1` for the deduplicated corpus.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val hashed = docs.select(col(idCol), md5(col(textCol)).as("_h"))
    val exact = hashed.select(col(idCol).as("id_a"), col("_h"))
      .join(hashed.select(col(idCol).as("id_b"), col("_h")), "_h")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val sh = Dedup.shingles(docs, idCol, textCol)
    val near = Dedup.minhashBandCandidates(
      Dedup.minhashSignatures(sh, idCol), idCol)
    graft.dedup.Components.dedupClusters(exact.union(near).distinct(),
      "id_a", "id_b")
  }
  /** Corpus dedup over the UNION of every near-dup detector — exact md5 ∪
    * banded MinHash ∪ Manku-blocked SimHash ∪ embedding cosine — with
    * per-cluster provenance: `sources` lists which detectors contributed
    * edges to each cluster (exact is certain; cosine is a judgment call —
    * downstream filtering needs to know). `emb` rows join the doc graph
    * by id equality (embIdCol values must share idCol's domain).
    * Cosine edges are SemDeDup cell-gated by `centersLong`/`centerCol`
    * (see [[cosineNearDuplicates]]) — no entry point here builds an
    * all-pairs plan.
    */
  def dedupCorpusProvenance(docs: DataFrame, idCol: String, textCol: String,
                            emb: DataFrame, embIdCol: String, arrCol: String,
                            centersLong: DataFrame, centerCol: String,
                            cosineThreshold: Double = 0.9): DataFrame = {
    // In-row signature pass — minhash + simhash from ONE corpus scan with
    // no shuffle, persisted so neither the minhash nor the simhash
    // detector re-reads the corpus: one row per doc (id + 8 longs +
    // 1 long), ~tens of GB per 10^10 docs — cheap next to a second
    // 100 TB scan.
    val sigs = Dedup.docSignatures(docs, idCol, textCol, bits = 60).persist()
    val clusters = graft.dedup.Components.provenanceClusters(
      Dedup.provenanceEdges(docs, idCol, textCol, sigs, emb, embIdCol,
        arrCol, centersLong, centerCol, cosineThreshold))
    // provenanceClusters eagerly localCheckpoints the edge set, so the
    // signature cache has served its purpose — release it rather than
    // letting repeated calls accumulate cached signature tables for the
    // session's lifetime; blocking, so no block removal outlives the call
    sigs.unpersist(blocking = true)
    clusters
  }
  /** Hourly resample with dense grid + forward fill (time-series
    * regularization; see operators.TimeSeries).
    */
  def resampleHourly(df: DataFrame, key: Column, ts: Column,
                     value: Column): DataFrame =
    graft.operators.TimeSeries.resampleHourlyFill(df, key, ts, value)
  /** Static (band, band_sig) index over a corpus for the streaming
    * near-dup gate; pair with [[nearDupGate]].
    */
  def nearDupIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.bandSignatures(
        Dedup.minhashSignatures(Dedup.shingles(docs, idCol, textCol), idCol),
        idCol)
      .select(org.apache.spark.sql.functions.col("band"),
        org.apache.spark.sql.functions.col("band_sig")).distinct()
  /** Ingestion-time near-dup gate: which incoming docs (batch OR stream)
    * collide with the indexed corpus. Stream-static join — stateless per
    * micro-batch; see [[Dedup.nearDupAgainstIndex]].
    */
  def nearDupGate(incoming: DataFrame, index: DataFrame,
                  idCol: String, textCol: String): DataFrame =
    Dedup.nearDupAgainstIndex(incoming, index, idCol, textCol)
  /** Connected components over any near-dup pair set (id_a, id_b).
    * Node set = edge endpoints; for a full-corpus report (isolated docs
    * as singleton clusters) use [[dedupComponentsAll]].
    */
  def dedupComponents(edges: DataFrame): DataFrame =
    graft.dedup.Components.dedupClusters(edges, "id_a", "id_b")
  /** Connected components over the FULL doc universe: docs touching no
    * edge are singleton clusters (their own survivor) — every input doc
    * gets a disposition row.
    */
  def dedupComponentsAll(edges: DataFrame, docs: DataFrame,
                         idCol: String): DataFrame =
    graft.dedup.Components.dedupClustersAll(edges, "id_a", "id_b",
      docs, idCol)
  /** Deterministic hash-gated sampling (engine-portable, retry-stable). */
  def sampleDeterministic(df: DataFrame, key: Column, pct: Int): DataFrame =
    graft.operators.Sampling.deterministicSample(df, key, pct)
  def sampleStratified(df: DataFrame, key: Column, stratum: Column,
                       rates: Map[String, Int]): DataFrame =
    graft.operators.Sampling.stratifiedSample(df, key, stratum, rates)
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 arrCol: String, k: Int): DataFrame =
    Similarity.bruteForceTopK(corpus, queries, idCol, arrCol, k)
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              arrCol: String, k: Int): DataFrame =
    Similarity.lshTopK(corpus, queries, idCol, arrCol, k)
  def textQuality(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.qualityFeatures(docs, idCol, textCol)
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.fingerprints(docs, idCol, textCol)
  /** Okapi BM25 document scores for a fixed query-term set. */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String]): DataFrame =
    TextAnalysis.bm25(docs, idCol, textCol, terms)
  /** Eval-set decontamination: training docs flagged by long-n-gram
    * overlap with the (broadcast) eval corpus.
    */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame =
    TextAnalysis.contaminationStats(train, evalDocs, idCol, textCol, n)
  /** PII detection + typed-placeholder redaction (email/IPv4/phone). */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.piiStats(docs, idCol, textCol)
  /** Unicode-script / charset triage: per-script char counts, U+FFFD,
    * mojibake digraphs, dominant script. Map-side (text.TextAnalysis).
    */
  def scriptStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.scriptStats(docs, idCol, textCol)
  /** Canonical URL form: lowercase scheme/host, www./fragment strip,
    * default-port drop, tracking-param removal, param sort, trailing
    * slash trim. Map-side Column expression (text.Urls).
    */
  def canonicalizeUrl(url: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    graft.text.Urls.canonicalizeUrl(url)
  /** Registered domain (eTLD+1) of a URL's host, multi-label public
    * suffixes respected (text.Urls).
    */
  def registeredDomain(url: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    graft.text.Urls.registeredDomain(graft.text.Urls.hostOf(url))
  /** Keep at most `cap` rows per domain, best-first by `order` (must
    * be a total order); salted two-phase top-N so a hot domain never
    * owns one task (text.Urls).
    */
  def perDomainCap(df: DataFrame, domain: org.apache.spark.sql.Column,
                   order: Seq[org.apache.spark.sql.Column],
                   key: org.apache.spark.sql.Column, cap: Int,
                   salts: Int = 32): DataFrame =
    graft.text.Urls.perDomainCap(df, domain, order, key, cap, salts)
  /** robots.txt rules for an agent (RFC 9309 subset): exact-agent
    * group shadows `*`, rules compiled to LIKE patterns (text.Robots).
    */
  def robotsRules(robots: DataFrame, domainCol: String, bodyCol: String,
                  agent: String = "*"): DataFrame =
    graft.text.Robots.rules(robots, domainCol, bodyCol, agent)
  /** Per-URL robots decision: longest rule wins, Allow wins ties, no
    * match allows (text.Robots).
    */
  def robotsDecisions(urls: DataFrame, rules: DataFrame, keyCol: String,
                      domainCol: String, pathCol: String): DataFrame =
    graft.text.Robots.decisions(urls, rules, keyCol, domainCol, pathCol)
  /** DSIR importance weights: target-vs-corpus bigram likelihood ratio. */
  def importanceWeights(docs: DataFrame, target: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    TextAnalysis.importanceWeights(docs, target, idCol, textCol)
  /** CCNet head/middle/tail perplexity buckets — tercile cuts over the
    * mean bigram LM score via one approx_percentile sketch pass.
    */
  def pplBuckets(docs: DataFrame, idCol: String, textCol: String,
                 accuracy: Int = 10000): DataFrame =
    TextAnalysis.pplBuckets(docs, idCol, textCol, accuracy)
  /** End-to-end crawl-curation disposition: URL gate -> HTML main
    * content -> quality gate -> exact dedup -> survivor, one row per
    * page (text.Curation). Pair with [[curationFunnel]] for the rollup.
    */
  def curationDisposition(docs: DataFrame, idCol: String, urlCol: String,
                          htmlCol: String, minTextWords: Int = 10)
      : DataFrame =
    graft.text.Curation.disposition(docs, idCol, urlCol, htmlCol,
      minTextWords)
  /** Funnel rollup of [[curationDisposition]]: docs surviving each
    * successive stage.
    */
  def curationFunnel(disposition: DataFrame): DataFrame =
    graft.text.Curation.funnel(disposition)
  /** [[curationDisposition]] as an ingest STREAM: stateless gates +
    * one keyed exact-dedup state (first-epoch-wins keeper, optional
    * TTL). Works on batch frames too (streaming.EventStreams).
    */
  def curationGateStream(pages: DataFrame, idCol: String, urlCol: String,
                         htmlCol: String, minTextWords: Int = 10,
                         ttlMs: Long = 0L)
      : org.apache.spark.sql.Dataset[graft.streaming.CurationVerdict] =
    graft.streaming.EventStreams.curationGate(pages, idCol, urlCol,
      htmlCol, minTextWords, ttlMs)
  /** Markdown -> plain text: fixed regex rule chain (fenced code
    * dropped, links/images to their text, emphasis unwrapped), all
    * map-side (text.Markdown).
    */
  def markdownToText(md: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    graft.text.Markdown.markdownToText(md)
  /** Visible text of an HTML page: script/style/comment subtrees
    * dropped, tags to spaces, common entities decoded, whitespace
    * collapsed. Pure map-side Column (text.Html).
    */
  def htmlToText(html: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    graft.text.Html.stripTags(html)
  /** jusText-style main-content extraction: block segmentation, keep
    * blocks with >= minWords words and link density <= maxLinkDensity
    * (text.Html).
    */
  def htmlMainContent(docs: DataFrame, idCol: String, htmlCol: String,
                      minWords: Int = 5, maxLinkDensity: Double = 0.33)
      : DataFrame =
    graft.text.Html.mainContent(docs, idCol, htmlCol, minWords,
      maxLinkDensity)
  /** CCNet line-level dedup: every distinct (trimmed) line keeps exactly
    * its first occurrence; documents reassembled (text.LineDedup).
    */
  def dedupLinesKeepFirst(docs: DataFrame, idCol: String, textCol: String,
                          delim: String = "\n"): DataFrame =
    graft.text.LineDedup.keepFirstLines(docs, idCol, textCol, delim)
  /** Boilerplate-line removal: lines in >= `minDocs` distinct documents
    * removed everywhere, first copy included (text.LineDedup).
    *
    * Contract note for `minDocs` >= 25: the scale path adds an HLL
    * pre-gate, so with probability ~3e-5 per boundary key a truly
    * frequent line is RETAINED (never wrongly removed) — see
    * [[graft.text.LineDedup.dropFrequentLines]] for the exact
    * semantics and why the relaxation is one-sided.
    */
  def dropBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
                           minDocs: Int, delim: String = "\n"): DataFrame =
    graft.text.LineDedup.dropFrequentLines(docs, idCol, textCol, minDocs,
      delim)
  /** Duplicated-line report (line, n_docs, n_occs) — read this before
    * picking [[dropBoilerplateLines]]' threshold (text.LineDedup).
    */
  def duplicateLineStats(docs: DataFrame, idCol: String, textCol: String,
                         delim: String = "\n", minDocs: Int = 2): DataFrame =
    graft.text.LineDedup.duplicateLineStats(docs, idCol, textCol, delim,
      minDocs)

  // ---- training-mix / splits / preprocessing ----
  /** Deterministic md5 per-mille train/val/test assignment. */
  def splitTrainValTest(df: DataFrame, key: Column,
                        trainPermille: Int = 800,
                        valPermille: Int = 100): DataFrame =
    graft.operators.Sampling.assignSplit(df, key, trainPermille, valPermille)
  def sampleKPerGroup(df: DataFrame, group: Column, key: Column,
                      k: Int): DataFrame =
    graft.operators.Sampling.sampleKPerGroup(df, group, key, k)
  def robustScale(df: DataFrame, valueCol: String, outCol: String): DataFrame =
    Moments.robustScale(df, valueCol, outCol)
  /** 100 TB RobustScaler twin: approx_percentile mergeable sketch. */
  def robustScaleApprox(df: DataFrame, valueCol: String, outCol: String,
                        accuracy: Int = 10000): DataFrame =
    Moments.robustScaleApprox(df, valueCol, outCol, accuracy)
  /** One-way ANOVA F per feature (sklearn f_classif). */
  def anovaF(df: DataFrame, labelCol: String, features: Seq[String]): DataFrame =
    Moments.anovaF(df, labelCol, features)
  def oneHot(df: DataFrame, catCol: String, categories: Seq[String],
             prefix: String): DataFrame =
    Moments.oneHot(df, catCol, categories, prefix)
  def quantileTransform(df: DataFrame, valueCol: String,
                        tieBreak: Seq[Column], outCol: String): DataFrame =
    Moments.quantileTransform(df, valueCol, tieBreak, outCol)
  /** Pairwise Pearson correlations in one aggregation (long form). */
  def corrMatrix(df: DataFrame, features: Seq[String]): DataFrame =
    Moments.corrMatrix(df, features)
  /** General-d closed-form OLS (d <= 5, generated Cramer). */
  def olsFitN(df: DataFrame, xCols: Seq[String], yCol: String): DataFrame =
    LinearOps.olsFitN(df, xCols, yCol)
  /** Truncated EWMA per key (pandas ewm(alpha).mean() adjust=True). */
  def ewma(df: DataFrame, key: Column, orderCols: Seq[Column], value: Column,
           alpha: Double, lags: Int = 20): DataFrame =
    graft.operators.TimeSeries.ewma(df, key, orderCols, value, alpha, lags)
  /** Subset-duplication pairs: |A∩B| / min(|A|,|B|) over shingles. */
  def containmentNearDuplicates(docs: DataFrame, idCol: String,
                                textCol: String, threshold: Double): DataFrame =
    Dedup.containmentPairs(Dedup.shingles(docs, idCol, textCol), idCol,
      threshold)
  /** Exact-substring duplication diagnostic (Lee et al. 2022 shape at a
    * fixed token window): per-doc fraction of positions covered by a
    * window occurring more than once in the corpus, overlaps merged.
    */
  def repeatedSpanStats(docs: DataFrame, idCol: String, textCol: String,
                        windowTokens: Int = 8): DataFrame =
    Dedup.repeatedSpanStats(docs, idCol, textCol, windowTokens)
  /** Repeated-span REMOVAL: keep each duplicated span's canonical
    * occurrence, strip the rest, reassemble docs (fully-duplicated docs
    * vanish). The transform twin of [[repeatedSpanStats]].
    */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          windowTokens: Int = 8): DataFrame =
    Dedup.removeRepeatedSpans(docs, idCol, textCol, windowTokens)
  /** CCNet-style segment dedup: per-doc duplicated-segment fraction. */
  def segmentDupStats(docs: DataFrame, idCol: String, textCol: String,
                      w: Int = 8): DataFrame =
    Dedup.segmentDupStats(docs, idCol, textCol, w)
  /** Segment dedup as a transform: docs reassembled from the surviving
    * (first-occurrence) segments; fully-duplicate docs vanish.
    */
  def removeDuplicateSegments(docs: DataFrame, idCol: String,
                              textCol: String, w: Int = 8): DataFrame =
    Dedup.removeDuplicateSegments(docs, idCol, textCol, w)
  /** Per-doc unigram Shannon entropy (boilerplate signal). */
  def unigramEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.unigramEntropy(docs, idCol, textCol)
  /** Zipf slope of the corpus frequency spectrum. */
  def zipfSlope(docs: DataFrame, textCol: String, topK: Int = 100): DataFrame =
    TextAnalysis.zipfSlope(docs, textCol, topK)
  /** Symmetric int8 embedding quantization (codes, scale, L2 error). */
  def quantizeInt8(emb: DataFrame, idCol: String, arrCol: String): DataFrame =
    Similarity.quantizeInt8(emb, idCol, arrCol)
  /** Fitted truncated SVD (sign-canonicalized V + singular values). */
  def svdFit(df: DataFrame, arrCol: String, k: Int): ClusterOps.SvdModel =
    ClusterOps.fitSvd(df, arrCol, k)
  /** Deterministic top singular vector + sigma via fixed-round power
    * iteration (SQL-reproducible; the ARPACK twin is [[svdFit]]).
    */
  def svdPowerTop(df: DataFrame, idCol: String, arrCol: String,
                  iters: Int = 8): DataFrame =
    ClusterOps.powerIterationTop(df, idCol, arrCol, iters)
  /** Deterministic top-k truncated SVD: fixed-round power loops with
    * Hotelling deflation between components (SQL-reproducible end to
    * end; the ARPACK twin is [[svdFit]]).
    */
  def svdPowerComponents(df: DataFrame, idCol: String, arrCol: String,
                         k: Int, iters: Int = 8): DataFrame =
    ClusterOps.powerIterationComponents(df, idCol, arrCol, k, iters)
  /** Deterministic k-fold ridge CV: md5-assigned folds, closed-form
    * per-fold fits, two linear scans regardless of grid size.
    */
  def crossValidateRidge(df: DataFrame, keyCol: Column, xCol: Column,
                         yCol: Column, lambdas: Seq[Double],
                         k: Int = 3): DataFrame =
    Composition.cvRidgeUnivariate(df, keyCol, xCol, yCol, lambdas, k)

  // ---- multimodal ----
  /** Parse binary media payloads (BMP/WAV/PPM/PNG/JPEG headers) into
    * typed metadata + content digests; total on corrupt input.
    */
  def decodeMedia(media: org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord])
      : org.apache.spark.sql.Dataset[graft.multimodal.MediaMeta] =
    graft.multimodal.Multimodal.decodeMedia(media)
  /** PDF → text: page-tree walk, stream inflate, Tj/'/TJ show strings;
    * one row per page, damage attributable per page (multimodal.PdfCodec).
    */
  def pdfPageTexts(media: org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord])
      : org.apache.spark.sql.Dataset[graft.multimodal.PdfPageText] =
    graft.multimodal.Multimodal.pdfPageTexts(media)
  /** PDF structure triage: version, page/object counts, filter and
    * /Encrypt flags (multimodal.PdfCodec).
    */
  def pdfDocMeta(media: org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord])
      : org.apache.spark.sql.Dataset[graft.multimodal.PdfDocMeta] =
    graft.multimodal.Multimodal.pdfDocMeta(media)
  /** WARC archive → one row per record: framing, HTTP status/headers,
    * body digest; gzip-member and plain transports (multimodal.WarcCodec).
    */
  def warcRecords(archives: org.apache.spark.sql.Dataset[graft.multimodal.WarcArchive])
      : org.apache.spark.sql.Dataset[graft.multimodal.WarcRecordRow] =
    graft.multimodal.Multimodal.warcRecords(archives)

  // ---- sketches, graph, layout, mixing (round-11 additions) ----
  /** Fixed-size count-min sketch (oracle-replayable md5 family); the
    * xxhash64 throughput twin is `stats.Sketches.countMinSketchFast`.
    */
  def countMinSketch(terms: DataFrame, termCol: String,
                     depth: Int = 4, width: Int = 512): DataFrame =
    graft.stats.Sketches.countMinSketch(terms, termCol, depth, width)
  /** Point-frequency estimates from a [[countMinSketch]] frame. */
  def cmsEstimate(sketch: DataFrame, queryTerms: DataFrame, termCol: String,
                  depth: Int = 4, width: Int = 512): DataFrame =
    graft.stats.Sketches.cmsEstimate(sketch, queryTerms, termCol, depth, width)
  /** EXACT frequent items through the CMS gate — two passes, shuffle
    * bounded by hot-cell mass rather than term cardinality.
    */
  def heavyHitters(terms: DataFrame, termCol: String, threshold: Long,
                   depth: Int = 4, width: Int = 4096): DataFrame =
    graft.stats.Sketches.heavyHitters(terms, termCol, threshold, depth, width)
  /** Deterministic fixed-round PageRank (see operators.Graph) — rank
    * the near-dup graph for centrality-weighted canonical selection.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               nodes: DataFrame, nodeCol: String,
               iters: Int = 6, damping: Double = 0.85): DataFrame =
    graft.operators.Graph.pageRank(edges, srcCol, dstCol, nodes, nodeCol,
      iters, damping)
  /** Deterministic weighted sample without replacement (A-ES). */
  def weightedSample(df: DataFrame, key: Column, weight: Column,
                     k: Int): DataFrame =
    graft.operators.Sampling.weightedSample(df, key, weight, k)
  /** Temperature-smoothed training-mix rates (weight ∝ n^alpha). */
  def mixRatesTemperature(df: DataFrame, stratum: Column, alpha: Double,
                          totalTarget: Long): DataFrame =
    graft.operators.Sampling.mixRatesTemperature(df, stratum, alpha, totalTarget)
  /** Morton/Z-order value for two dimensions — sort by it at ingest so
    * parquet min/max stats prune on both predicate columns.
    */
  def zValue(x: Column, y: Column, bits: Int): Column =
    graft.operators.Layout.zValue(x, y, bits)
  /** Explicit runtime-filter join: bloom the dim keys, prune the fact
    * side in-row before its shuffle; exact results (see
    * operators.Relational.bloomPreFilterJoin).
    */
  def bloomPreFilterJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                         dimKey: String,
                         expectedItems: Long = 100000L): DataFrame =
    Relational.bloomPreFilterJoin(fact, dim, factKey, dimKey, expectedItems)
  /** Top-k eigenvectors by orthogonal (subspace) iteration — the block
    * QR-in-SQL alternative to [[svdPowerComponents]]'s deflation; same
    * deterministic contract, better behavior on clustered spectra.
    */
  def svdOrthIteration(df: DataFrame, idCol: String, arrCol: String,
                       k: Int, iters: Int = 8): DataFrame =
    ClusterOps.orthogonalIteration(df, idCol, arrCol, k, iters)
  /** Product-quantization codebooks (multi-subspace deterministic Lloyd). */
  def pqCodebooks(emb: DataFrame, idCol: String, arrCol: String,
                  dsub: Int, ksub: Int, iters: Int): DataFrame =
    graft.similarity.Similarity.pqCodebooks(emb, idCol, arrCol, dsub, ksub, iters)
  /** PQ codes: d floats → m small ints per vector. */
  def pqEncode(emb: DataFrame, idCol: String, arrCol: String,
               centers: DataFrame, dsub: Int): DataFrame =
    graft.similarity.Similarity.pqEncode(emb, idCol, arrCol, centers, dsub)
  /** Asymmetric-distance PQ top-k: corpus touched only through codes. */
  def pqTopK(emb: DataFrame, queries: DataFrame, idCol: String,
             arrCol: String, centers: DataFrame, dsub: Int,
             k: Int): DataFrame =
    graft.similarity.Similarity.pqTopK(emb, queries, idCol, arrCol, centers,
      dsub, k)
  /** IVF+PQ composed ANN: coarse cells gate, PQ codes rank (ADC). */
  def ivfPqTopK(emb: DataFrame, queries: DataFrame, idCol: String,
                arrCol: String, coarseLong: DataFrame, centerCol: String,
                pqCenters: DataFrame, dsub: Int, nProbe: Int,
                k: Int): DataFrame =
    graft.similarity.Similarity.ivfPqTopK(emb, queries, idCol, arrCol,
      coarseLong, centerCol, pqCenters, dsub, nProbe, k)
  /** Positional inverted index (doc, pos, term) for exact phrase search. */
  def positionalIndex(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    graft.text.TextAnalysis.positionalIndex(docs, idCol, textCol)
  /** Exact-phrase occurrence counts via posting-list joins. */
  def phraseMatchCounts(docs: DataFrame, idCol: String, textCol: String,
                        phrase: Seq[String]): DataFrame =
    graft.text.TextAnalysis.phraseMatchCounts(docs, idCol, textCol, phrase)
  /** A BATCH of phrases against one index build — one corpus scan per
    * batch; output (phrase_id, doc, n_matches).
    */
  def phraseMatchCountsMany(docs: DataFrame, idCol: String, textCol: String,
                            phrases: Seq[Seq[String]]): DataFrame =
    graft.text.TextAnalysis.phraseMatchCountsMany(docs, idCol, textCol,
      phrases)
  /** Tokenize ONCE into a durable bucket-partitioned index asset. */
  def writePositionalIndex(docs: DataFrame, idCol: String, textCol: String,
                           path: String, buckets: Int = 64): Unit =
    graft.text.TextAnalysis.writePositionalIndex(docs, idCol, textCol,
      path, buckets)
  /** Append NEW docs' postings into a [[writePositionalIndex]] asset
    * (bucket modulus read from the asset's metadata; merge ≡ rebuild).
    */
  def mergePositionalIndex(docs: DataFrame, idCol: String,
                           textCol: String, path: String): Unit =
    graft.text.TextAnalysis.mergePositionalIndex(docs, idCol, textCol,
      path)
  /** Phrase query against a [[writePositionalIndex]] asset: partition
    * pruning reads ≤L term buckets — the corpus is never touched. The
    * bucket modulus comes from the asset's own metadata.
    */
  def phraseMatchCountsIndexed(spark: SparkSession, path: String,
                               idCol: String, phrase: Seq[String]): DataFrame =
    graft.text.TextAnalysis.phraseMatchCountsIndexed(spark, path, idCol,
      phrase)

  // ---- durable index-asset lifecycle (build → merge → compact →
  //      drift → retrain; both assets carry their own metadata) ----
  /** Build the cell-partitioned IVF ANN asset (centroids ride inside
    * as a sidecar — never a read-side parameter).
    */
  def writeIvfIndex(emb: DataFrame, idCol: String, arrCol: String,
                    centersLong: DataFrame, centerCol: String,
                    path: String): Unit =
    Similarity.writeIvfIndex(emb, idCol, arrCol, centersLong, centerCol,
      path)
  /** Append NEW vectors with the asset's OWN centroids (merge ≡ rebuild). */
  def mergeIvfIndex(emb: DataFrame, idCol: String, arrCol: String,
                    path: String): Unit =
    Similarity.mergeIvfIndex(emb, idCol, arrCol, path)
  /** Partition-pruned ANN against a [[writeIvfIndex]] asset. */
  def queryIvfIndexed(spark: SparkSession, path: String,
                      queries: DataFrame, idCol: String, arrCol: String,
                      nProbe: Int, k: Int): DataFrame =
    Similarity.queryIvfIndexed(spark, path, queries, idCol, arrCol,
      nProbe, k)
  /** Rewrite bloated term buckets to one file each (selective when
    * minFilesPerPartition > 1 — maintenance cost ∝ bloated buckets).
    */
  def compactPositionalIndex(spark: SparkSession, path: String,
                             maxRecordsPerFile: Long = 0L,
                             minFilesPerPartition: Int = 1): (Long, Long) =
    graft.text.TextAnalysis.compactPositionalIndex(spark, path,
      maxRecordsPerFile, minFilesPerPartition)
  /** [[compactPositionalIndex]]'s IVF-asset twin. */
  def compactIvfIndex(spark: SparkSession, path: String,
                      maxRecordsPerFile: Long = 0L,
                      minFilesPerPartition: Int = 1): (Long, Long) =
    Similarity.compactIvfIndex(spark, path, maxRecordsPerFile,
      minFilesPerPartition)
  /** Assignment-distance drift of an increment vs the asset (PSI bands:
    * <0.1 append, 0.1–0.2 append + raise nProbe, ≥0.2 retrain).
    */
  def ivfDriftReport(spark: SparkSession, path: String,
                     increment: DataFrame, idCol: String, arrCol: String,
                     bins: Int, lo: Double, hi: Double): DataFrame =
    Similarity.ivfDriftReport(spark, path, increment, idCol, arrCol,
      bins, lo, hi)
  /** The ≥0.2 branch: warm-started re-centering over asset ∪ increment,
    * rebuild, atomic swap.
    */
  def retrainIvfIndex(spark: SparkSession, path: String,
                      increment: DataFrame, idCol: String, arrCol: String,
                      iters: Int = 1): Unit =
    Similarity.retrainIvfIndex(spark, path, increment, idCol, arrCol,
      iters)
  /** Exact recall@k per nProbe vs brute-force truth — the tuning table
    * behind the drift report's raise-nProbe band.
    */
  def ivfRecallCurve(emb: DataFrame, queries: DataFrame, idCol: String,
                     arrCol: String, centersLong: DataFrame,
                     centerCol: String, maxProbe: Int, k: Int): DataFrame =
    Similarity.ivfRecallCurve(emb, queries, idCol, arrCol, centersLong,
      centerCol, maxProbe, k)
  /** Per-partition file/byte ledger — what minFilesPerPartition is
    * tuned by.
    */
  def assetFileStats(spark: SparkSession, path: String,
                     partitionCol: String): DataFrame =
    graft.sources.AssetMaintenance.partitionFileStats(spark, path,
      partitionCol)
  /** Build the durable LSH band-index asset (banding knobs ride in the
    * asset's own sidecar).
    */
  def writeBandIndex(docs: DataFrame, idCol: String, textCol: String,
                     path: String, n: Int = 3, numHashes: Int = 8,
                     rowsPerBand: Int = 2, buckets: Int = 64): Unit =
    Dedup.writeBandIndex(docs, idCol, textCol, path, n, numHashes,
      rowsPerBand, buckets)
  /** Append NEW docs with the asset's own banding knobs (merge ≡ rebuild). */
  def mergeBandIndexAsset(docs: DataFrame, idCol: String,
                          textCol: String, path: String): Unit =
    Dedup.mergeBandIndexAsset(docs, idCol, textCol, path)
  /** Near-dup candidate pairs of a batch against a [[writeBandIndex]]
    * asset (bucket-pruned scan).
    */
  def queryBandIndex(spark: SparkSession, path: String, docs: DataFrame,
                     idCol: String, textCol: String): DataFrame =
    Dedup.queryBandIndex(spark, path, docs, idCol, textCol)
  /** [[compactPositionalIndex]]'s band-index twin. */
  def compactBandIndex(spark: SparkSession, path: String,
                       maxRecordsPerFile: Long = 0L,
                       minFilesPerPartition: Int = 1): (Long, Long) =
    Dedup.compactBandIndex(spark, path, maxRecordsPerFile,
      minFilesPerPartition)
  /** Perceptual 8×8 average-hash per image — pixel-level dedup signature. */
  def aHashImages(media: org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord])
      : org.apache.spark.sql.Dataset[graft.multimodal.ImageAHash] =
    graft.multimodal.Multimodal.aHashImages(media)
  /** Near-dup image pairs: Manku block index on the perceptual hash. */
  def aHashNearPairs(hashed: DataFrame, maxHamming: Int = 3,
                     blocks: Int = 4): DataFrame =
    graft.multimodal.Multimodal.aHashNearPairs(hashed, maxHamming, blocks)
  /** Audio energy-envelope fingerprint (time-axis dedup signature). */
  def audioEnvelope(media: org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord],
                    frames: Int = 16)
      : org.apache.spark.sql.Dataset[graft.multimodal.AudioEnvelope] =
    graft.multimodal.Multimodal.audioEnvelope(media, frames)
  /** Spectral audio sub-fingerprints: Haitsma–Kalker sign bits over an
    * integer-exact Walsh–Hadamard filter bank (multimodal.Multimodal).
    */
  def audioSpectralPrints(
      media: org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord],
      frameLen: Int = 16, bands: Int = 8)
      : org.apache.spark.sql.Dataset[graft.multimodal.AudioSpectralPrint] =
    graft.multimodal.Multimodal.audioSpectralPrints(media, frameLen, bands)
  /** Audio pairs sharing ≥ minShared shingled spectral prints,
    * hot-shingle (silence/boilerplate) gated (multimodal.Multimodal).
    */
  def audioNearDupPairs(prints: DataFrame, shingle: Int = 4,
                        minShared: Int = 2,
                        maxDocsPerShingle: Int = 1024): DataFrame =
    graft.multimodal.Multimodal.audioNearDupPairs(prints, shingle,
      minShared, maxDocsPerShingle)
  /** Container-level video metadata scan (AVI header walk / MP4 box
    * walk) — map-side, frame bytes untouched (multimodal.Multimodal).
    */
  def videoMeta(media: org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord])
      : org.apache.spark.sql.Dataset[graft.multimodal.VideoMeta] =
    graft.multimodal.Multimodal.videoMeta(media)
  /** Every `stride`-th MJPEG-AVI frame, sliced + decoded + digested
    * (multimodal.Multimodal).
    */
  def videoFrameFeatures(
      media: org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord],
      stride: Int = 1)
      : org.apache.spark.sql.Dataset[graft.multimodal.VideoFrameFeature] =
    graft.multimodal.Multimodal.videoFrameFeatures(media, stride)
  /** Videos sharing ≥ minShared distinct frame digests, hot-frame
    * (boilerplate) gated (multimodal.Multimodal).
    */
  def videoNearDupPairs(frames: DataFrame, minShared: Int = 2,
                        maxVideosPerFrame: Int = 1024): DataFrame =
    graft.multimodal.Multimodal.videoNearDupPairs(frames, minShared,
      maxVideosPerFrame)
  /** Maximal runs of consecutive shared frames between video pairs —
    * clip-level dedup with start offsets (multimodal.Multimodal).
    */
  def videoSharedClips(frames: DataFrame, minRun: Int = 2,
                       maxVideosPerFrame: Int = 1024): DataFrame =
    graft.multimodal.Multimodal.videoSharedClips(frames, minRun,
      maxVideosPerFrame)
  /** Exact triangle census (compact-forward) — see operators.Graph. */
  def triangleCount(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame =
    graft.operators.Graph.triangleCount(edges, srcCol, dstCol)
  /** k-core by iterative peeling to the fixpoint (operators.Graph). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 20): DataFrame =
    graft.operators.Graph.kCore(edges, srcCol, dstCol, k, maxRounds)
  /** Fixed-round synchronous label-propagation communities with
    * deterministic ties (operators.Graph).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame =
    graft.operators.Graph.labelPropagation(edges, srcCol, dstCol, rounds)
  /** Cell-gated k-NN graph over an embedding column — every corpus
    * point's top-k in-probe cosine neighbors (similarity.Similarity).
    */
  def knnGraphCells(emb: DataFrame, idCol: String, arrCol: String,
                    centersLong: DataFrame, centerCol: String, k: Int,
                    nProbe: Int = 1): DataFrame =
    graft.similarity.Similarity.knnGraphCells(emb, idCol, arrCol,
      centersLong, centerCol, k, nProbe)
  /** [[knnGraphCells]] with the degenerate-cell cap AUTO-TUNED from the
    * cell-load histogram: the cap is the largest cell size whose
    * cumulative directed-pair cost fits `pairBudget`, so total join
    * work is bounded by the budget however skewed the assignment —
    * `onTuned` reports (cap, projected pairs). Inspect the ledger
    * itself via Similarity.cellLoadHistogram before committing a
    * budget on a new corpus.
    */
  def knnGraphCellsBudget(emb: DataFrame, idCol: String, arrCol: String,
                          centersLong: DataFrame, centerCol: String, k: Int,
                          pairBudget: Long, nProbe: Int = 1,
                          onTuned: (Long, Long) => Unit = (_, _) => ())
      : DataFrame =
    graft.similarity.Similarity.knnGraphCellsBudget(emb, idCol, arrCol,
      centersLong, centerCol, k, pairBudget, nProbe, onTuned)
  /** NN-descent refinement of a k-NN graph with the convergence knob
    * (similarity.Similarity.knnRefineConverged): iterate
    * neighbor-of-neighbor re-ranking until a round changes at most
    * `ceil(tol · |edges|)` directed edges (tol = 0: exact fixed point,
    * the deterministic / oracle-replayable default) or `maxRounds`.
    *
    * Picking `maxRounds` on a NEW corpus: run once with a generous
    * budget and read `changedPerRound` off the result — it is the
    * per-round size of the symmetric difference between the round's
    * edge set and the previous one (additions + removals), and on
    * clusterable data it collapses fast (e.g. 120 → 14 → 0). Set
    * `maxRounds` to where the sequence hits the noise floor; at
    * 100 TB every round past that is a full O(Σ deg²) expansion spent
    * re-deriving the graph it was handed.
    */
  def knnRefineConverged(emb: DataFrame, idCol: String, arrCol: String,
                         graph: DataFrame, k: Int, maxRounds: Int,
                         tol: Double = 0.0)
      : graft.similarity.RefineConverged =
    graft.similarity.Similarity.knnRefineConverged(emb, idCol, arrCol,
      graph, k, maxRounds, tol)
  /** Incremental-ingest near-dup provenance pairs against a static
    * band index (dedup.Dedup.nearDupPairsAgainstIndex).
    */
  def nearDupPairsAgainstIndex(docs: DataFrame, indexBands: DataFrame,
                               idCol: String, textCol: String,
                               indexIdCol: String): DataFrame =
    graft.dedup.Dedup.nearDupPairsAgainstIndex(docs, indexBands, idCol,
      textCol, indexIdCol)
  /** Overlapping token-window chunking for embedding/RAG preparation
    * (text.TextAnalysis.chunkWindows).
    */
  def chunkWindows(docs: DataFrame, idCol: String, textCol: String,
                   windowTokens: Int, strideTokens: Int): DataFrame =
    graft.text.TextAnalysis.chunkWindows(docs, idCol, textCol,
      windowTokens, strideTokens)
  /** Distinct word n-gram shingles per doc (dedup.Dedup.shingles) —
    * the input relation for the jaccard/ppJoin/minhash family.
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
               n: Int = 3): DataFrame =
    graft.dedup.Dedup.shingles(docs, idCol, textCol, n)
  /** The id-carrying (id, band, band_sig) minhash band index — the
    * materialized artifact the incremental-ingest family (provenance
    * pairs, merge maintenance) joins against.
    */
  def bandIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.dedup.Dedup.bandSignatures(
      graft.dedup.Dedup.minhashSignatures(
        graft.dedup.Dedup.shingles(docs, idCol, textCol), idCol), idCol)
  /** Exact Jaccard-threshold join by AllPairs prefix filtering — every
    * pair above t, provably (dedup.Dedup.ppJoinPairs).
    */
  def ppJoinPairs(shingleDf: DataFrame, idCol: String,
                  threshold: Double): DataFrame =
    graft.dedup.Dedup.ppJoinPairs(shingleDf, idCol, threshold)
  /** Append an increment's band rows to the materialized index; the
    * dedup_index_rebuild oracle pins merge ≡ full rebuild.
    */
  def mergeBandIndex(indexBands: DataFrame, docs: DataFrame,
                     idCol: String, textCol: String): DataFrame =
    graft.dedup.Dedup.mergeBandIndex(indexBands, docs, idCol, textCol)
  /** SemDeDup end to end: cell-gated cosine pairs → components over
    * the full universe → one survivor per semantic cluster.
    */
  def semanticPrune(emb: DataFrame, idCol: String, arrCol: String,
                    centersLong: DataFrame, centerCol: String,
                    threshold: Double, nProbe: Int = 2): DataFrame =
    graft.dedup.Components.dedupClustersAll(
      graft.dedup.Dedup.embeddingNearDupCells(emb, idCol, arrCol,
        centersLong, centerCol, threshold, nProbe = nProbe),
      "id_a", "id_b", emb.select(org.apache.spark.sql.functions.col(idCol)),
      idCol)
  /** Greedy k-center coreset selection over an embedding column
    * (similarity.Similarity): the diversity-maximizing k-subset.
    */
  def kCenterCoreset(emb: DataFrame, idCol: String, arrCol: String,
                     k: Int): DataFrame =
    graft.similarity.Similarity.kCenterCoreset(emb, idCol, arrCol, k)
  /** IVF top-k with a per-query exhaustive-fallback recall floor
    * (similarity.Similarity.ivfTopKAdaptive).
    */
  def ivfTopKAdaptive(emb: DataFrame, queries: DataFrame, idCol: String,
                      arrCol: String, centersLong: DataFrame,
                      centerCol: String, nProbe: Int, k: Int,
                      minCand: Int): DataFrame =
    graft.similarity.Similarity.ivfTopKAdaptive(emb, queries, idCol,
      arrCol, centersLong, centerCol, nProbe, k, minCand)
  /** Skew-aware Fellegi–Sunter scoring: hot blocks split across
    * per-block-sized sub-block counts (operators.Linkage).
    */
  def linkScorePairsSkewAware(a: DataFrame, aId: String, b: DataFrame,
                              blockCols: Seq[String],
                              rules: Seq[graft.operators.Linkage.FieldRule],
                              maxSalt: Int = 64): DataFrame =
    graft.operators.Linkage.scorePairsSkewAware(a, aId, b, blockCols,
      rules, maxSalt)
  /** Distributed BPE merge learning: the tokenizer's merge table from
    * one corpus pass + vocabulary-sized merge rounds (text.Bpe).
    */
  def bpeLearnMerges(docs: DataFrame, textCol: String,
                     merges: Int): DataFrame =
    graft.text.Bpe.learnMerges(docs, textCol, merges)
  /** Encode with a learned merge table (vocabulary-level, then join). */
  def bpeApplyMerges(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)]): DataFrame =
    graft.text.Bpe.applyMerges(docs, idCol, textCol, merges)
  /** Fellegi–Sunter blocked pair scoring (see operators.Linkage). */
  def linkScorePairs(a: DataFrame, b: DataFrame, blockCols: Seq[String],
                     rules: Seq[graft.operators.Linkage.FieldRule]): DataFrame =
    graft.operators.Linkage.scorePairs(a, b, blockCols, rules)
  /** Best link per right id: argmax score, threshold-gated. */
  def linkBestMatches(scored: DataFrame, idA: String, idB: String,
                      threshold: Double): DataFrame =
    graft.operators.Linkage.bestMatches(scored, idA, idB, threshold)
  /** Fellegi–Sunter m/u/p by fixed-round EM — FieldRule-ready weights
    * out (operators.Linkage.estimateMU).
    */
  def linkEstimateMU(pairs: DataFrame, agreeCols: Seq[(String, Column)],
                     rounds: Int = 3): DataFrame =
    graft.operators.Linkage.estimateMU(pairs, agreeCols, rounds)
  /** Mutual-kNN label-propagation communities over an embedding column
    * (similarity.Similarity.knnCommunities).
    */
  def knnCommunities(emb: DataFrame, idCol: String, arrCol: String,
                     centersLong: DataFrame, centerCol: String, k: Int,
                     nProbe: Int = 1, rounds: Int = 4): DataFrame =
    graft.similarity.Similarity.knnCommunities(emb, idCol, arrCol,
      centersLong, centerCol, k, nProbe, rounds)
  /** Greedy file-compaction plan over a file inventory (metadata scale). */
  def compactionBins(files: DataFrame, orderCols: Seq[Column],
                     sizeCol: Column, targetBytes: Long): DataFrame =
    graft.operators.Layout.compactionBins(files, orderCols, sizeCol, targetBytes)
  /** One-row key-skew report with a recommended salt factor. */
  def keySkewReport(df: DataFrame, key: Column): DataFrame =
    graft.operators.Diagnostics.keySkewReport(df, key)
  /** One-pass per-column data-quality profile (nulls/distincts/min/max). */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    graft.operators.Diagnostics.profileColumns(df, cols)
  /** Many-models OLS: an independent fit per group in one scan. */
  def olsFitGrouped(df: DataFrame, group: Column, x: Column,
                    y: Column): DataFrame =
    graft.mlops.LinearOps.olsFitGrouped(df, group, x, y)
  /** Persist a named bundle of model DataFrames to parquet (mlops.ModelIO). */
  def saveModelBundle(spark: SparkSession, path: String,
                      parts: Map[String, DataFrame]): Unit =
    graft.mlops.ModelIO.saveBundle(spark, path, parts)
  /** Load a model bundle saved by [[saveModelBundle]]; refuses schema drift. */
  def loadModelBundle(spark: SparkSession, path: String): Map[String, DataFrame] =
    graft.mlops.ModelIO.loadBundle(spark, path)
  /** Per-class precision/recall/F1/support from one confusion pass. */
  def classificationReport(df: DataFrame, labelCol: String,
                           predCol: String): DataFrame =
    graft.mlops.Eval.classificationReport(df, labelCol, predCol)
  /** Exact tie-aware AUC over the quantized-score histogram. */
  def aucExact(df: DataFrame, scoreCol: String, labelCol: String,
               quantize: Int = 6): DataFrame =
    graft.mlops.Eval.aucExact(df, scoreCol, labelCol, quantize)
  /** Segmented exact AUC — one row per group (model monitoring). */
  def aucExactBy(df: DataFrame, scoreCol: String, labelCol: String,
                 groupCol: String, quantize: Int = 6): DataFrame =
    graft.mlops.Eval.aucExactBy(df, scoreCol, labelCol, groupCol, quantize)
  /** Brier + eps-clamped log-loss in one pass. */
  def probScores(df: DataFrame, scoreCol: String, labelCol: String,
                 eps: Double = 1e-15): DataFrame =
    graft.mlops.Eval.probScores(df, scoreCol, labelCol, eps)
  /** Reliability-diagram bins (mean score vs observed positive rate). */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
                      bins: Int = 10): DataFrame =
    graft.mlops.Eval.calibrationBins(df, scoreCol, labelCol, bins)
  /** One-pass regression error report (MAE/RMSE/MAPE/R²). */
  def regressionReport(df: DataFrame, actualCol: String,
                       predCol: String): DataFrame =
    graft.mlops.Eval.regressionReport(df, actualCol, predCol)
  /** Chance-corrected agreement between two labelings (one row). */
  def cohensKappa(df: DataFrame, col1: String, col2: String): DataFrame =
    graft.mlops.Eval.cohensKappa(df, col1, col2)
  /** Per-query recall@k / MRR / nDCG@k over retriever-provided ranks. */
  def rankingMetrics(df: DataFrame, queryCol: String, rankCol: String,
                     relCol: String, k: Int): DataFrame =
    graft.mlops.Eval.rankingMetrics(df, queryCol, rankCol, relCol, k)
  /** One-pass numeric profile (moments twin of [[profileColumns]]). */
  def profileNumeric(df: DataFrame, cols: Seq[String],
                     exactDistinct: Boolean = true): DataFrame =
    graft.stats.Profile.profileNumeric(df, cols, exactDistinct)
  /** PSI/KL/JS token-distribution drift between two snapshots. */
  def tokenDrift(a: DataFrame, b: DataFrame, textCol: String): DataFrame =
    graft.stats.Profile.tokenDrift(a, b, textCol)
  /** PSI/KL/JS numeric drift over fixed caller-defined bins. */
  def numericDrift(a: DataFrame, b: DataFrame, valueCol: String,
                   bins: Int, lo: Double, hi: Double): DataFrame =
    graft.stats.Profile.numericDrift(a, b, valueCol, bins, lo, hi)
  /** Drift from two already-aggregated (key, count) tables. */
  def countDrift(a: DataFrame, b: DataFrame, keyCol: String,
                 aCountCol: String, bCountCol: String): DataFrame =
    graft.stats.Profile.countDrift(a, b, keyCol, aCountCol, bCountCol)
  /** Globally-exact sequence packing (per-(doc, chunk) token slices). */
  def packSequences(docs: DataFrame, idCol: String, tokenCol: String,
                    seqLen: Long): DataFrame =
    graft.operators.Packing.packSequences(docs, idCol, tokenCol, seqLen)
  /** Per-chunk fullness / loss-masking rollup of [[packSequences]]. */
  def packChunkReport(spans: DataFrame): DataFrame =
    graft.operators.Packing.chunkReport(spans)
  /** Deterministic global training-order shuffle rank (the order
    * [[packSequences]] packs in, as an explicit 0-based position).
    */
  def shuffleOrder(docs: DataFrame, idCol: String): DataFrame =
    graft.operators.Packing.shuffleOrder(docs, idCol)
  /** Unigram-LM tokenizer training (fixed Viterbi-EM rounds). */
  def unigramLearn(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
                   seedMultiTopK: Int = 64, emRounds: Int = 2,
                   vocabSize: Int = 4096): DataFrame =
    graft.text.Unigram.learn(docs, textCol, maxPieceLen, seedMultiTopK,
      emRounds, vocabSize)
  /** Per-doc unigram encode stats (distinct-word Viterbi + doc join). */
  def unigramEncodeStats(docs: DataFrame, idCol: String, textCol: String,
                         vocab: DataFrame, maxPieceLen: Int = 4): DataFrame =
    graft.text.Unigram.encodeStats(docs, idCol, textCol, vocab, maxPieceLen)
  /** Stateless in-row unigram encode (the streaming shape). */
  def unigramEncodeStatsInRow(docs: DataFrame, idCol: String,
                              textCol: String, vocab: Map[String, Double],
                              maxPieceLen: Int = 4): DataFrame =
    graft.text.Unigram.encodeStatsInRow(docs, idCol, textCol, vocab,
      maxPieceLen)
}
