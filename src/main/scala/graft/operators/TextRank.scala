package graft.operators

import graft.{Num, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF-IDF term weighting over the documents corpus — the classic IR
  * primitive behind keyword extraction, sparse retrieval, and quality
  * heuristics.
  */
object TextRank {

  /** q63: top-3 TF-IDF terms per document. One token explode feeds both
    * the per-(doc, term) TF aggregate and the per-term DF aggregate; the
    * TF↔IDF join shuffles on the term key (the vocabulary can be as
    * large as the corpus — broadcasting it is the mistake; an equi-join
    * on term is one bounded exchange). The per-doc top-k is a
    * WindowGroupLimit rank, so only 3 rows per document survive to the
    * final exchange. Ties (equal scores within a doc) break on the term
    * string so both engines pick identical rows.
    */
  def q63TfidfTerms(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    // corpus size rides along as a broadcast one-row aggregate — no
    // eager driver-side count, no extra scan per execution
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    val terms = docs
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        Num.roundD(col("tf") * log(col("n") / col("df")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("doc_id", "rk", "term", "tf", "df", "tfidf")
      .orderBy("doc_id", "rk")
  }

  val q63Sql: String =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
       |  FROM documents),
       |t AS (SELECT doc_id, term FROM terms WHERE len(term) > 0),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS df
       |       FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    ${Num.sqlRoundD("tf.tf * ln(CAST(n.n AS DOUBLE) / df.df)", 6)} AS tfidf
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY tfidf DESC, term) AS rk
       |  FROM scored)
       |SELECT doc_id, rk, term, tf, df, tfidf FROM r WHERE rk <= 3
       |ORDER BY doc_id, rk""".stripMargin

  /** q64: conversion funnel — per user, the ordered view → click →
    * purchase progression: a stage counts only if its first occurrence
    * follows the previous stage's. One conditional aggregate per user
    * (no joins, no window pass): each stage's timestamp is a MIN over a
    * filtered column, and the ordering constraint composes on top. The
    * funnel summary is the stage-by-stage user count with drop-off.
    */
  def q64Funnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .withColumn("ts_us", expr("unix_micros(ts)"))
    def firstOf(t: String) = min(when(col("event_type") === t, col("ts_us")))
    val perUser = e.groupBy("user_id")
      .agg(firstOf("view").as("first_view"),
        firstOf("click").as("first_click"),
        firstOf("purchase").as("first_purchase"))
      .withColumn("reached_view", col("first_view").isNotNull.cast("int"))
      .withColumn("reached_click",
        (col("first_view").isNotNull && col("first_click") > col("first_view"))
          .cast("int"))
      .withColumn("reached_purchase",
        (col("first_view").isNotNull && col("first_click") > col("first_view") &&
          col("first_purchase") > col("first_click")).cast("int"))
    perUser.agg(
        count(lit(1)).as("n_users"),
        sum("reached_view").as("stage_view"),
        sum("reached_click").as("stage_view_click"),
        sum("reached_purchase").as("stage_view_click_purchase"))
      .withColumn("conv_view_to_click",
        Num.roundD(col("stage_view_click").cast("double") / col("stage_view")))
      .withColumn("conv_click_to_purchase",
        Num.roundD(col("stage_view_click_purchase").cast("double") /
          col("stage_view_click")))
  }

  val q64Sql: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
       |u AS (
       |  SELECT user_id,
       |    MIN(CASE WHEN event_type = 'view' THEN ts_us END) AS first_view,
       |    MIN(CASE WHEN event_type = 'click' THEN ts_us END) AS first_click,
       |    MIN(CASE WHEN event_type = 'purchase' THEN ts_us END) AS first_purchase
       |  FROM e GROUP BY user_id),
       |s AS (
       |  SELECT
       |    CAST(first_view IS NOT NULL AS INT) AS rv,
       |    CAST(first_view IS NOT NULL AND first_click > first_view AS INT) AS rc,
       |    CAST(first_view IS NOT NULL AND first_click > first_view
       |      AND first_purchase > first_click AS INT) AS rp
       |  FROM u)
       |SELECT COUNT(*) AS n_users,
       |  CAST(SUM(rv) AS BIGINT) AS stage_view,
       |  CAST(SUM(rc) AS BIGINT) AS stage_view_click,
       |  CAST(SUM(rp) AS BIGINT) AS stage_view_click_purchase,
       |  ${Num.sqlRoundD("CAST(SUM(rc) AS DOUBLE) / SUM(rv)")} AS conv_view_to_click,
       |  ${Num.sqlRoundD("CAST(SUM(rp) AS DOUBLE) / SUM(rc)")} AS conv_click_to_purchase
       |FROM s""".stripMargin

  /** q143: BM25 sparse retrieval top-k — the ranked-retrieval primitive
    * behind decontamination lookups, eval-set leakage hunts, and RAG
    * indexing, complementing q63's per-doc term weighting with the
    * query-side scatter-gather. The query set is derived from the corpus
    * itself (one query per `doc_id % 101 == 0` document: the distinct
    * terms of its first 6 tokens) so the operator is self-contained; a
    * query never retrieves its own source document.
    *
    * Plan shape (the 100 TB story): the query-term frame is bounded
    * (|docs|/101 queries × ≤6 terms) and BROADCAST to the postings
    * join, so the only exchanges touching corpus-sized frames are the
    * token aggregates (tf / df / doclen — the q63 class) and one
    * decimal-sum shuffle on the matched (query, doc) pairs, which the
    * query-term filter has already cut to the postings of ≤6·|Q| terms.
    * N and avgdl ride along as broadcast one-row aggregates. The per-doc
    * top-k is a WindowGroupLimit rank on the exact decimal score
    * (identical in both engines), ties broken on doc_id.
    *
    * Okapi BM25 with k1 = 1.2, b = 0.75, idf = ln(1 + (N−df+0.5)/(df+0.5));
    * per-term contributions are IEEE doubles with the same association
    * order as the oracle, summed exactly via [[Num.exactSum]].
    */
  def q143Bm25Retrieval(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    bm25TopK(docs, corpusQueryPanel(docs), k).orderBy("q_id", "rk")
  }

  /** The shared q143/q146/q147/q148 query panel: a FIXED slice
    * (`doc_id % 101 == 0 && doc_id < 3500` covers every sf the oracle
    * runs at — |Q| must not grow with the corpus, or the oracle pays
    * |Q|×postings ~ N² while the production shape, a bounded external
    * query set against a growing corpus, is linear in N), one query per
    * selected document: the distinct terms of its first 6 tokens.
    */
  private def corpusQueryPanel(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 101 === 0 && col("doc_id") < 3500)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(split(lower(trim(col("text"))), " "), 1, 6))).as("term"))
      .filter(length(col("term")) > 0)

  /** The matched (query, term, doc) rows of a BM25 evaluation, pre-
    * weight: columns `q_id, term, doc_id, tf, df, dl, n, avgdl` — every
    * exact count the Okapi formula needs, with the corpus constants
    * riding along as broadcast one-row aggregates. Shared by
    * [[bm25TopK]] and the q147/q148 recall grids (which filter it by
    * df-threshold / champion membership before ranking).
    */
  private def bm25Contrib(docs: DataFrame, qt: DataFrame): DataFrame =
    bm25ContribFrom(bm25FramesFor(docs, qt), qt)

  /** Corpus-size floor above which [[bm25FramesFor]] prunes the tf/df
    * aggregations to the query panel's vocabulary (round 17 negative
    * result #4, STAGED for scale per VERDICT r17 #8): only ≤ |panel|·6
    * distinct terms survive the contrib join, so at a real corpus the
    * tf/df shuffles should carry the panel-term slice, not the whole
    * vocabulary — the vocabulary grows with the corpus while the panel
    * is bounded. At bench SFs the extra broadcast semi-join chain costs
    * more per-job latency than the aggregation it saves (measured r17:
    * q150 6.5 → 8.6 s, q143 2.36 → 2.74 s), so the floor keeps it OFF
    * below 256 MB of corpus — bit-identical results either way (the
    * contrib join discards non-panel terms regardless; 5/5 oracles were
    * green when forced on).
    */
  private[graft] val PanelPruneFloorBytes: Long = 256L * 1024 * 1024

  /** [[bm25Frames]] with the scale-staged panel-term pruning applied
    * when the corpus estimate crosses [[PanelPruneFloorBytes]]
    * (`floorBytes` is a parameter so PlanSpec can assert the pruned
    * shape without a 256 MB fixture). dl/n/avgdl stay corpus-wide —
    * document length and corpus constants are panel-independent.
    */
  private[graft] def bm25FramesFor(docs: DataFrame, qt: DataFrame,
      floorBytes: Long = PanelPruneFloorBytes): Bm25Frames = {
    val est = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est >= BigInt(floorBytes)) bm25Frames(docs, panelTerms = Some(qt))
    else bm25Frames(docs)
  }

  /** The BM25 ingredient frames of a docs corpus. NOT persisted (round
    * 17 — measured): on this latency-bound profile the three tokenize
    * branches (tf/dl/df) schedule concurrently across idle cores, so a
    * persist's cache barrier costs MORE wall time than the redundant
    * passes it removes (q146 A/B: 3.60 s unpersisted vs 4.51 s with an
    * eagerly-counted tf cache). Multi-operating-point consumers (q150)
    * instead pin their ≤ |panel|·k ARM outputs, where the recompute
    * being removed is the whole pipeline, not one branch.
    */
  private[graft] case class Bm25Frames(tf: DataFrame, dl: DataFrame,
                                           df: DataFrame, n: DataFrame,
                                           ad: DataFrame)

  private def bm25Frames(docs: DataFrame,
                         panelTerms: Option[DataFrame] = None): Bm25Frames = {
    // CPU-spread of the tokenize base tried and REVERTED (round 18
    // subset-bench A/B: q143 1.78 → 2.31–2.78 s in-suite, consistent
    // across three runs): a single-consumer bm25 evaluation pays the
    // extra exchange without reusing it, and the tf/dl/df branches
    // already overlap on idle cores (the r17 finding). The q146/q150
    // dense arms keep their own spreads, where the win is real.
    val toks = docs
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), " ")).as("term"))
      .filter(length(col("term")) > 0)
    // panel-term vocabulary pruning (see [[bm25FramesFor]]): tf/df only
    // matter for terms the panel will join anyway — the semi-join drops
    // the rest BEFORE the aggregation shuffles. dl stays corpus-wide.
    val kept = panelTerms match {
      case Some(qt) => toks.join(
        broadcast(qt.select("term").distinct()), Seq("term"), "left_semi")
      case None => toks
    }
    val tf = kept.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val df = kept.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    val ad = dl.agg((sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    Bm25Frames(tf, dl, df, n, ad)
  }

  /** The matched (query, term, doc) contrib rows over already-built
    * ingredient frames — the join tail [[bm25Contrib]] and the q147/q148/
    * q150 grids share.
    */
  private def bm25ContribFrom(f: Bm25Frames, qt: DataFrame): DataFrame =
    broadcast(qt).join(f.tf, "term")
      .filter(col("doc_id") =!= col("q_id"))
      .join(f.df, "term")
      .join(f.dl, "doc_id")
      .crossJoin(broadcast(f.n))
      .crossJoin(broadcast(f.ad))

  /** The production seam under [[q143Bm25Retrieval]]: BM25 top-k of
    * `docs` (any frame with `doc_id`/`text`) for an external query-term
    * frame `qt` (`q_id`, `term`) — the shape a decontamination lookup or
    * an eval-leakage hunt brings its own queries in. A query id equal to
    * a document id never retrieves that document (self-exclusion).
    *
    * `maxDfFrac < 1.0` turns on INDEX ELIMINATION (IR's classic
    * df-threshold pruning): query terms whose document frequency exceeds
    * `maxDfFrac × N` are dropped before scoring. Stopword-class terms
    * carry near-zero idf but corpus-sized posting lists, so this trades
    * a measurable sliver of ranking fidelity (graded by [[q147PrunedRecall]])
    * for posting-list work bounded by the RARE terms' df — the knob that
    * closes the standing index's measured stopword floor. A query whose
    * terms are ALL pruned returns no rows, the standard semantics.
    */
  def bm25TopK(docs: DataFrame, qt: DataFrame, k: Int = 10,
               maxDfFrac: Double = 1.0): DataFrame = {
    // no auto sentinel here (there is no standing `_cal` to read):
    // a non-positive threshold would silently retrieve nothing
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac=$maxDfFrac is outside (0, 1] — 0 would prune every " +
        "term and a value above 1 is meaningless (df never exceeds N); " +
        "the auto sentinel (0.0) exists only on the index-backed " +
        "searchTextIndex, which has a persisted calibration to read")
    val contrib = bm25Contrib(docs, qt)
    val kept =
      if (maxDfFrac >= 1.0) contrib
      else contrib.filter(col("df").cast("double") <= lit(maxDfFrac) * col("n"))
    rankBm25(withBm25Weight(kept), k)
  }

  /** The Okapi weight of one (query, term, doc) match — expects columns
    * `tf`, `df`, `dl` (exact counts) and `n`, `avgdl` (corpus constants
    * as doubles). Shared verbatim by the in-query path and the standing
    * index's search so the two can never diverge: every op is a
    * fixed-association IEEE double, engine- and path-portable.
    */
  private def withBm25Weight(contrib: DataFrame): DataFrame =
    contrib
      .withColumn("idf",
        log(lit(1.0) + (col("n") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("w",
        col("idf") * ((col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))))

  /** Exact per-(query, doc) score sum + WindowGroupLimit top-k — the
    * tail both BM25 paths share.
    */
  private def rankBm25(weighted: DataFrame, k: Int): DataFrame = {
    val scored = weighted.groupBy("q_id", "doc_id")
      .agg(Num.exactSum(col("w")).as("score_dec"))
    val w = Window.partitionBy("q_id").orderBy(col("score_dec").desc, col("doc_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("doc_id"),
        Num.roundD(col("score_dec").cast("double")).as("bm25"))
  }

  // ------------------------------------------- standing text (BM25) index

  /** The text families' companion-table suffixes (retire/drop). */
  private val TextSuffixes = Seq("_df", "_meta", "_champ", "_cal")

  /** Stored champion-list depth: every index commit (refresh or append)
    * lands its own top-[[ChampM]] postings per term in the `_champ`
    * companion, so serving can evaluate any `m ≤ ChampM` without a
    * rebuild. 256 bounds the companion at vocabulary × 256 rows per
    * commit — index metadata, not corpus data.
    */
  val ChampM = 256

  /** Term-bucket PARTITION count for the postings table. Postings are
    * partitioned (directories, not buckets) by `tb = pmod(xxhash64(term),
    * TermBuckets)` so a broadcast query panel prunes unmatched term
    * buckets at the scan via dynamic partition pruning — the `_members`
    * cell-partitioning trick applied to posting lists. With selective
    * query terms a search reads only its terms' buckets; a panel of
    * stopwords degrades to the full postings scan, which is the data's
    * floor, not the plan's.
    */
  private val TermBuckets = 32

  private def termBucket(term: Column): Column =
    pmod(xxhash64(term), lit(TermBuckets.toLong))

  /** The text family's shared tokenizer (round 15 — VERDICT r14 #7).
    * `default` is the house kernel (`split(lower(trim(text)), " ")`) —
    * byte-stable with every oracle query, correct for the driver's
    * single-space corpus. `robust` is the INDEX-side option for real
    * text: punctuation runs collapse to spaces before a `\s+` split,
    * so `word.` / `word,` / `(word)` variants stop fragmenting postings
    * and inflating df. Oracle kernels keep the default by contract —
    * the robust mode exists on the standing index, where the refresh
    * persists its choice in `_meta` so appends can never mix modes.
    */
  def tokWords(c: Column, mode: String): Column = mode match {
    case "default" => split(lower(trim(c)), " ")
    case "robust" =>
      split(trim(regexp_replace(lower(c), "[^\\p{L}\\p{N}]+", " ")), "\\s+")
    case other => throw new IllegalArgumentException(
      s"tokenizer mode must be default or robust, got $other")
  }

  /** Posting rows of a docs frame: one row per (doc, term) with the
    * term frequency and the doc's token length DENORMALIZED onto the
    * posting (the classic posting-list layout — a search needs tf and
    * dl together and must never join back to the corpus).
    */
  private def postingsOf(docs: DataFrame,
                         tokMode: String = "default"): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokWords(col("text"), tokMode)).as("term"))
      .filter(length(col("term")) > 0)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")).join(dl, "doc_id")
  }

  /** One corpus-constant PARTIAL per commit (refresh or append):
    * `n_docs` counts every doc (the idf denominator), `token_docs` /
    * `total_tokens` define avgdl. Readers SUM the partials, so appends
    * stay purely additive — no in-place rewrite on the serving path.
    */
  private def metaPartial(docs: DataFrame, post: DataFrame,
                          tokMode: String = "default"): DataFrame =
    docs.agg(count(lit(1)).as("n_docs")).crossJoin(
      post.select("doc_id", "dl").distinct()
        .agg(count(lit(1)).as("token_docs"), sum("dl").as("total_tokens")))
      // the tokenizer mode rides every commit's partial as a constant:
      // readers agg the numeric columns (unaffected), appends read the
      // first row so a batch can never be tokenized under a different
      // mode than the standing postings
      .withColumn("tok_mode", lit(tokMode))

  /** One commit's champion-list PARTIAL: the top-[[ChampM]] postings per
    * term of THIS commit's corpus slice, by impact (tf desc, doc_id asc —
    * a total order, so champions are deterministic). Partials are
    * summable the way `_df` partials are: the true top-m of a union of
    * slices is contained in the union of the slices' top-m (any champion
    * of the whole is a champion of the slice that holds it), so appends
    * stay purely ADDITIVE and serving re-ranks the bounded union —
    * never an in-place rewrite on a serving table.
    *
    * Skew guard for 100 TB refreshes: a stopword's posting list is a
    * constant fraction of the corpus, and a single `partition by term`
    * window would sort it on one task. The salt stage cuts each term
    * into 64 bounded sub-lists, keeps each sub-list's top-ChampM (a
    * superset of the term's true top-ChampM, same containment argument),
    * and only the ≤ 64 × ChampM survivors reach the per-term window.
    */
  private def champPartial(post: DataFrame): DataFrame = {
    val salted = Window.partitionBy(col("term"), pmod(xxhash64(col("doc_id")), lit(64L)))
      .orderBy(col("tf").desc, col("doc_id"))
    val perTerm = Window.partitionBy("term").orderBy(col("tf").desc, col("doc_id"))
    post.withColumn("srn", row_number().over(salted)).filter(col("srn") <= ChampM)
      .withColumn("rn", row_number().over(perTerm)).filter(col("rn") <= ChampM)
      .select("term", "doc_id", "tf", "dl", "rn")
  }

  /** Materialize the standing BM25 index of a docs frame — the sparse
    * retrieval family's standing state, the lifecycle discipline of the
    * band/semantic/PQ families applied to postings: the posting table
    * (`term`, `doc_id`, `tf`, `dl`) is PARTITIONED by [[termBucket]] so
    * a search's broadcast panel DPP-prunes unmatched term buckets at
    * the scan, the `_df` companion is bucketed on `term` (vocabulary-
    * sized), `_meta` holds the corpus constants as summable partials,
    * and the whole triple lands as a NEW [[graft.sources.TablePointer]]
    * generation behind the atomic current pointer, so a search racing a
    * refresh keeps its own generation's files (reader-side snapshot
    * isolation, the vector families' round-14 contract). Refreshes
    * serialize under the caller's lock as everywhere else.
    */
  def refreshTextIndex(docs: DataFrame, table: String,
                       numBuckets: Int = 32,
                       // ≥ 0 calibrates BOTH approximate-serving knobs
                       // at refresh time (the screenRecallTarget
                       // convention — band threshold / PQ nprobe): the
                       // smallest df-threshold and champion depth whose
                       // measured recall@k against the exact ranking
                       // meets the target land in a `_cal` companion,
                       // and the serving paths' auto sentinels read them
                       serveRecallTarget: Double = -1.0,
                       // [[tokWords]] mode — persisted per commit in
                       // `_meta`, read back by appends
                       tokMode: String = "default"): Unit = {
    val s = docs.sparkSession
    val phys = graft.sources.TablePointer.stage(s, table)
    val post = postingsOf(docs, tokMode).persist()
    try {
      graft.sources.Ingest.clearStaleLocation(s, phys)
      post.select(col("term"), col("doc_id"), col("tf"), col("dl"),
          termBucket(col("term")).as("tb"))
        .repartition(col("tb")) // one file per term bucket per write
        .write.mode("overwrite").format("parquet").partitionBy("tb")
        .saveAsTable(phys)
      graft.sources.Ingest.writeBucketed(
        post.groupBy("term").agg(count(lit(1)).as("df")),
        s"${phys}_df", "term", numBuckets)
      graft.sources.Ingest.writeBucketed(
        champPartial(post), s"${phys}_champ", "term", numBuckets)
      graft.sources.Ingest.clearStaleLocation(s, s"${phys}_meta")
      metaPartial(docs, post, tokMode).write.mode("overwrite").format("parquet")
        .saveAsTable(s"${phys}_meta")
      // calibration probes the just-written staged generation (the
      // refreshPqIndex rule), so the swap publishes index + knobs as
      // one generation — a reader never sees the new corpus under the
      // old corpus's thresholds
      if (serveRecallTarget >= 0)
        calibrateTextServing(s, phys, serveRecallTarget)
      graft.sources.TablePointer.swap(s, table, phys)
      graft.sources.TablePointer.retire(s, table, TextSuffixes)
    } finally post.unpersist(false)
  }

  /** Incremental text-index maintenance: append a batch's postings, df
    * partials, and meta partial to the CURRENT generation — one
    * batch-sized shuffle, never a corpus rebuild, and purely ADDITIVE
    * (df and meta are summable partials), so a concurrent reader sees
    * either the pre- or post-append corpus constants, never a torn
    * rewrite. Bucket specs are owned by the standing tables.
    */
  /** The [[tokWords]] mode a standing text index was refreshed with —
    * read from its `_meta` partials; `default` for a pre-mode legacy
    * index (whose partials carry no `tok_mode` column). `table0` may be
    * logical or physical.
    */
  def textTokModeOf(s: SparkSession, table0: String): String = {
    val phys = graft.sources.TablePointer.resolve(s, table0)
    val meta = s.table(s"${phys}_meta")
    if (!meta.columns.contains("tok_mode")) "default"
    else meta.select("tok_mode").head().getString(0)
  }

  def appendTextIndex(s: SparkSession, table: String, docs: DataFrame): Unit = {
    val phys = graft.sources.TablePointer.resolve(s, table)
    // the batch tokenizes under the INDEX's persisted mode — mixing
    // modes would fragment the very postings the robust mode unifies
    val tokMode = textTokModeOf(s, phys)
    val post = postingsOf(docs, tokMode).persist()
    try {
      post.select(col("term"), col("doc_id"), col("tf"), col("dl"),
          termBucket(col("term")).as("tb"))
        .repartition(col("tb"))
        .write.mode("append").format("parquet").partitionBy("tb")
        .saveAsTable(phys)
      graft.sources.Ingest.appendBucketed(
        post.groupBy("term").agg(count(lit(1)).as("df")), s"${phys}_df", "term")
      // the champion companion appends ONLY when it exists — the
      // `_hashes` born-corpus-complete rule: appending a batch partial
      // to a pre-champion legacy index would create a companion holding
      // ONLY the batch's champions, and champion serving would silently
      // miss the standing corpus; a legacy index stays champion-less
      // (searchTextIndexChampion refuses loudly) until its next refresh
      // materializes the companion corpus-complete
      if (s.catalog.tableExists(s"${phys}_champ"))
        graft.sources.Ingest.appendBucketed(
          champPartial(post), s"${phys}_champ", "term")
      // a legacy `_meta` (no tok_mode column) keeps its schema — the
      // index IS default-mode by construction, and an append must not
      // fail on (or half-migrate) the standing partials
      val mp = metaPartial(docs, post, tokMode)
      (if (s.table(s"${phys}_meta").columns.contains("tok_mode")) mp
       else mp.drop("tok_mode"))
        .write.mode("append").format("parquet")
        .saveAsTable(s"${phys}_meta")
    } finally post.unpersist(false)
  }

  /** BM25 top-k against the STANDING index — bit-equal to [[bm25TopK]]
    * over the same corpus (the spec's contract): the query-term frame is
    * bounded and broadcast (the serving paths' premise, guarded the same
    * way), df resolves from the `_df` partials for the query's terms
    * only (vocabulary-bounded, then broadcast), the corpus constants sum
    * from `_meta`, and the postings table is touched ONCE through its
    * bucketed scan with no index-side exchange. The pointer resolves
    * once per plan — a refresh landing mid-query never moves this
    * query's files.
    */
  def searchTextIndex(s: SparkSession, table: String, qt: DataFrame,
                      k: Int = 10, maxQueryRows: Long = 100000L,
                      maxDfFrac: Double = 1.0): DataFrame = {
    val nQ = qt.count()
    require(nQ <= maxQueryRows,
      s"searchTextIndex broadcasts its query terms, and $nQ query rows " +
        s"exceed maxQueryRows=$maxQueryRows — this is a serving path for " +
        "bounded query panels; for corpus-sized workloads run bm25TopK " +
        "as a batch job, or raise maxQueryRows deliberately.")
    val phys = graft.sources.TablePointer.resolve(s, table)
    val post = s.table(phys)
    val qterms = qt.select("term").distinct()
    val qdf = s.table(s"${phys}_df")
      .join(broadcast(qterms), "term")
      .groupBy("term").agg(sum("df").as("df"))
    val meta = s.table(s"${phys}_meta")
      .agg(sum("n_docs").cast("double").as("n"),
        (sum("total_tokens").cast("double") /
          sum("token_docs").cast("double")).as("avgdl"))
    // index elimination runs BEFORE the postings join: dropping a
    // stopword-class term from the panel removes its corpus-sized
    // posting scan entirely (fewer surviving term buckets → more DPP
    // pruning), which is the point — the same `df ≤ maxDfFrac·N` test
    // bm25TopK applies per contrib row, applied where it saves work.
    // The df/N test resolves from the same vocabulary-bounded partials
    // the scoring reads, so the two paths can never disagree.
    // maxDfFrac = 0.0 is AUTO: serve at the threshold the refresh
    // calibrated and persisted in `_cal`; with no calibration, degrade
    // toward EXACTNESS (1.0 — prune nothing), never a silent guess.
    require(maxDfFrac >= 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac=$maxDfFrac is outside [0, 1] — 0.0 means auto " +
        "(read the persisted calibration), (0, 1] is an explicit " +
        "threshold; a negative value would silently retrieve nothing " +
        "and a value above 1 is meaningless (df never exceeds N — the " +
        "check enforces the full interval the message promises, ADVICE " +
        "r14)")
    val fracEff =
      if (maxDfFrac != 0.0) maxDfFrac
      else textCalOf(s, phys).map(_.maxDfFrac).getOrElse(1.0)
    val panel =
      if (fracEff >= 1.0) qt
      else qt.join(broadcast(
        qdf.crossJoin(meta.select(col("n")))
          .filter(col("df").cast("double") <= lit(fracEff) * col("n"))
          .select("term")), "term")
    // the panel joins on (tb, term): tb is the postings table's
    // partition column, so the broadcast side's bucket values prune
    // unmatched term-bucket directories at the scan (DPP — the
    // `_members` cell-probe shape)
    val contrib = broadcast(panel.withColumn("tb", termBucket(col("term"))))
      .join(post, Seq("tb", "term"))
      .filter(col("doc_id") =!= col("q_id"))
      .join(broadcast(qdf), "term")
      .crossJoin(broadcast(meta))
    rankBm25(withBm25Weight(contrib), k).orderBy("q_id", "rk")
  }

  /** Champion-list serving against the STANDING index — the text
    * family's bounded-candidate tier, the IVF-probe shape applied to
    * posting lists: candidates come from the `_champ` companion's
    * top-`m`-by-impact postings per query term (≤ |terms|·m rows, BY
    * CONSTRUCTION independent of corpus size), scored with the exact
    * Okapi weight over exact df/N/avgdl from the full index, ranked by
    * [[rankBm25]]. A doc outside every query term's champion list
    * cannot be retrieved — the fidelity trade [[q148ChampionRecall]]
    * grades, the way the ANN family grades nprobe.
    *
    * The union of commit partials re-ranks at read: rows with partial
    * rank > m are pre-cut (a slice row below its own slice's top-m is
    * below the union's), then one window over the ≤ commits·m survivors
    * per term recovers the true corpus top-m exactly.
    */
  def searchTextIndexChampion(s: SparkSession, table: String, qt: DataFrame,
                              k: Int = 10, m: Int = 0,
                              maxQueryRows: Long = 100000L): DataFrame = {
    val phys = graft.sources.TablePointer.resolve(s, table)
    // m = 0 is AUTO (the probeIndex/probePqIndex sentinel): serve at the
    // calibrated depth the refresh persisted in `_cal`; with no
    // calibration, degrade toward EXACTNESS (the full stored depth)
    val mEff =
      if (m != 0) m
      else textCalOf(s, phys).map(_.champM).getOrElse(ChampM)
    require(mEff >= 1 && mEff <= ChampM,
      s"champion depth m=$mEff must be in [1, $ChampM] — the companion " +
        s"stores top-$ChampM per commit; deeper serving needs a refresh " +
        "with a larger ChampM")
    require(s.catalog.tableExists(s"${phys}_champ"),
      s"$phys has no champion companion — an index refreshed before " +
        "champion lists existed serves exact/pruned only; refresh it to " +
        "materialize `_champ` corpus-complete (a partial companion would " +
        "silently miss standing champions, so none is ever auto-created)")
    val nQ = qt.count()
    require(nQ <= maxQueryRows,
      s"searchTextIndexChampion broadcasts its query terms, and $nQ " +
        s"query rows exceed maxQueryRows=$maxQueryRows")
    val qterms = qt.select("term").distinct()
    val perTerm = Window.partitionBy("term").orderBy(col("tf").desc, col("doc_id"))
    val champ = s.table(s"${phys}_champ")
      .join(broadcast(qterms), "term")
      .filter(col("rn") <= mEff)
      .withColumn("grn", row_number().over(perTerm))
      .filter(col("grn") <= mEff)
      .select("term", "doc_id", "tf", "dl")
    val qdf = s.table(s"${phys}_df")
      .join(broadcast(qterms), "term")
      .groupBy("term").agg(sum("df").as("df"))
    val meta = s.table(s"${phys}_meta")
      .agg(sum("n_docs").cast("double").as("n"),
        (sum("total_tokens").cast("double") /
          sum("token_docs").cast("double")).as("avgdl"))
    val contrib = broadcast(qt).join(champ, "term")
      .filter(col("doc_id") =!= col("q_id"))
      .join(broadcast(qdf), "term")
      .crossJoin(broadcast(meta))
    rankBm25(withBm25Weight(contrib), k).orderBy("q_id", "rk")
  }

  /** The persisted serving calibration of a text index (the `_cal`
    * companion): the smallest df-threshold and champion depth whose
    * measured recall@k met the refresh's target, plus the measurements
    * themselves — the band-threshold/nprobe `_meta` contract applied to
    * the text family's two approximate-serving knobs.
    */
  case class TextCal(maxDfFrac: Double, champM: Int, target: Double,
                     pruneMeasured: Double, champMeasured: Double,
                     // corpus size (Σ `_meta` n_docs) WHEN the sweep ran
                     // (ADVICE r14): admission/streaming appends grow the
                     // corpus under a `_cal` persisted at refresh time,
                     // and without this anchor the recorded recall
                     // silently stops being a measured property of the
                     // served corpus — docs_now vs docs_at_cal is the
                     // staleness signal standingStateReport surfaces.
                     // −1 on a `_cal` row persisted before the column
                     // existed (drift unknowable, stated, not zero).
                     docsAtCal: Long = -1L)

  /** Read a text index's persisted serving calibration — None for an
    * index refreshed without a target (the auto sentinels then degrade
    * toward exactness). `table0` may be logical or physical.
    */
  def textCalOf(s: SparkSession, table0: String): Option[TextCal] = {
    val phys = graft.sources.TablePointer.resolve(s, table0)
    if (!s.catalog.tableExists(s"${phys}_cal")) None
    else s.table(s"${phys}_cal").collect().headOption.map(r =>
      TextCal(r.getAs[Double]("max_df_frac"), r.getAs[Int]("champ_m"),
        r.getAs[Double]("recall_target"), r.getAs[Double]("prune_measured"),
        r.getAs[Double]("champ_measured"),
        if (r.schema.fieldNames.contains("docs_at_cal"))
          r.getAs[Long]("docs_at_cal") else -1L))
  }

  /** Derive BOTH approximate-serving knobs from the standing index's own
    * measured recall curves and persist them beside it (round 14 third
    * pass — the screen-knob discipline applied to serving: nlist rule,
    * nprobe calibration, band threshold, now `maxDfFrac`/`m`).
    *
    * Panel: the `nPanel` smallest doc ids' ≤ 6 lexicographically-first
    * distinct terms, derived from the POSTINGS table itself — so a
    * rebuild or a spec re-derives the identical panel without the source
    * docs frame, and the panel is bounded by construction. Truth: the
    * exact index ranking for that panel.
    *
    * - df-threshold candidates are the panel terms' OWN df fractions
    *   (the exact decision points — any other threshold keeps the same
    *   term set as one of these); the largest keeps every panel term,
    *   so its grid slice IS the truth and its recall is 1 by
    *   construction. All candidates price out of ONE grid job.
    * - champion candidates are the doubling ladder 8..ChampM, priced
    *   out of one grid job over the (bounded) champion union.
    *
    * Chosen: the SMALLEST candidate meeting `targetRecall` — the
    * qualifying set's cheap end, the exact opposite extremum of the
    * band threshold's (there a LOWER threshold catches more and costs
    * false flags; here a lower knob serves cheaper and costs recall).
    * When nothing qualifies, the exactness end (largest frac / ChampM)
    * is persisted with its measured recall and a loud warning — the
    * residual is the target's documented complement.
    */
  def calibrateTextServing(s: SparkSession, table0: String,
                           targetRecall: Double, k: Int = 10,
                           nPanel: Int = 12): TextCal = {
    import s.implicits._
    val phys = graft.sources.TablePointer.resolve(s, table0)
    require(s.catalog.tableExists(s"${phys}_champ"),
      s"$phys has no champion companion to calibrate — refresh the " +
        "index first (refreshTextIndex materializes `_champ` " +
        "corpus-complete before the calibration sweep)")
    val post = s.table(phys)
    val panelDocs = post.select("doc_id").distinct().orderBy("doc_id")
      .limit(nPanel)
    val tw = Window.partitionBy("q_id").orderBy("term")
    // bounded by construction (≤ nPanel × 6 rows) — pulled once and
    // re-broadcast as a literal frame so the grid jobs never re-derive it
    val panelRows = post.join(broadcast(panelDocs), "doc_id")
      .select(col("doc_id").as("q_id"), col("term")).distinct()
      .withColumn("tr", row_number().over(tw)).filter(col("tr") <= 6)
      .select("q_id", "term")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    require(panelRows.nonEmpty,
      s"calibration panel for $phys is empty — the index has no postings")
    val qt = broadcast(panelRows.toDF("q_id", "term"))
    val qterms = qt.select("term").distinct()
    val meta = s.table(s"${phys}_meta")
      .agg(sum("n_docs").cast("double").as("n"),
        (sum("total_tokens").cast("double") /
          sum("token_docs").cast("double")).as("avgdl"))
    val qdf = s.table(s"${phys}_df")
      .join(broadcast(qterms), "term")
      .groupBy("term").agg(sum("df").as("df"))
    val nDocs = s.table(s"${phys}_meta").agg(sum("n_docs")).head().getLong(0)
    // the candidate thresholds: the panel terms' own df fractions — the
    // exact decision points — CAPPED at 6 quantile picks (ends always
    // included). The grid's decimal-sum shuffle carries every slice's
    // kept postings, so an uncapped ladder costs ~|candidates| × one
    // full panel ranking per refresh: measured 170 s at a 30× corpus
    // with 17 candidates vs ~9 s per ranking — the sweep must stay a
    // bounded multiple of ONE ranking (the CalRehearsal rule). The cap
    // coarsens minimality to "smallest CANDIDATE meeting the target",
    // stated — the quantile ladder still brackets every df regime the
    // panel actually contains.
    val fracsAll = qdf.select("df").collect()
      .map(_.getLong(0).toDouble / nDocs).distinct.sorted
    val fracs =
      if (fracsAll.length <= 6) fracsAll
      else {
        val step = (fracsAll.length - 1).toDouble / 5
        (0 to 5).map(i => fracsAll(math.round(i * step).toInt))
          .distinct.toArray
      }
    val maxFrac = fracs.last
    val contrib = withBm25Weight(
      qt.withColumn("tb", termBucket(col("term")))
        .join(post, Seq("tb", "term"))
        .filter(col("doc_id") =!= col("q_id"))
        .join(broadcast(qdf), "term")
        .crossJoin(broadcast(meta)))
    val w = Window.partitionBy("thr", "q_id")
      .orderBy(col("score_dec").desc, col("doc_id"))
    val topk = contrib.crossJoin(broadcast(fracs.toSeq.toDF("thr")))
      .filter(col("df").cast("double") <= col("thr") * col("n"))
      .groupBy("thr", "q_id", "doc_id")
      .agg(Num.exactSum(col("w")).as("score_dec"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("thr", "q_id", "doc_id").persist()
    val (chosenFrac, pruneMeasured) = try {
      val exact = topk.filter(col("thr") === maxFrac).select("q_id", "doc_id")
      val nExact = exact.count().toDouble
      // a degenerate corpus (every panel match self-excluded) retrieves
      // an EMPTY truth set; dividing by it would persist a NaN-recall
      // `_cal` row — garbage evidence (ADVICE r14). Serving stays safe
      // either way (degradation is toward exactness), so refuse loudly
      // instead of persisting a measurement that measured nothing.
      require(nExact > 0,
        s"text-serving calibration on $phys: the exact ranking over the " +
          "panel is EMPTY (every panel match self-excluded?) — there is " +
          "no truth to measure recall against; not persisting a `_cal`")
      val hits = topk.join(exact, Seq("q_id", "doc_id"))
        .groupBy("thr").agg(count(lit(1)).as("hits"))
        .collect().map(r => r.getDouble(0) -> r.getLong(1) / nExact).toMap
      val qualifying = fracs.filter(f => hits.getOrElse(f, 0.0) >= targetRecall)
      val cf = qualifying.headOption.getOrElse(maxFrac)
      (cf, hits.getOrElse(cf, 0.0))
    } finally graft.Frames.freePinned(topk)
    if (pruneMeasured < targetRecall) System.err.println(
      s"[graft.TextRank] df-threshold calibration on $phys: even the " +
        s"full panel reaches only $pruneMeasured < target $targetRecall " +
        "— persisting the exactness end; the residual is the target's " +
        "complement")
    // champion ladder, one grid job over the bounded champion union
    val ms = Seq(8, 16, 32, 64, 128, 256).filter(_ <= ChampM)
    val perTerm = Window.partitionBy("term").orderBy(col("tf").desc, col("doc_id"))
    val champ = s.table(s"${phys}_champ")
      .join(broadcast(qterms), "term")
      .withColumn("grn", row_number().over(perTerm))
      .filter(col("grn") <= ChampM)
    val cw = Window.partitionBy("m", "q_id")
      .orderBy(col("score_dec").desc, col("doc_id"))
    val champTopk = withBm25Weight(
        qt.join(champ, "term")
          .filter(col("doc_id") =!= col("q_id"))
          .join(broadcast(qdf), "term")
          .crossJoin(broadcast(meta)))
      .crossJoin(broadcast(ms.toDF("m"))).filter(col("grn") <= col("m"))
      .groupBy("m", "q_id", "doc_id")
      .agg(Num.exactSum(col("w")).as("score_dec"))
      .withColumn("rk", row_number().over(cw)).filter(col("rk") <= k)
      .select("m", "q_id", "doc_id").persist()
    val (chosenM, champMeasured) = try {
      // the truth is the EXACT ranking (the prune grid's maxFrac slice
      // recomputation — kept separate so the two grids stay independent)
      val exact = contrib
        .groupBy("q_id", "doc_id").agg(Num.exactSum(col("w")).as("score_dec"))
        .withColumn("rk", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("score_dec").desc, col("doc_id"))))
        .filter(col("rk") <= k).select("q_id", "doc_id")
      val nExact = exact.count().toDouble
      val hits = champTopk.join(exact, Seq("q_id", "doc_id"))
        .groupBy("m").agg(count(lit(1)).as("hits"))
        .collect().map(r => r.getInt(0) -> r.getLong(1) / nExact).toMap
      val qualifying = ms.filter(m => hits.getOrElse(m, 0.0) >= targetRecall)
      val cm = qualifying.headOption.getOrElse(ChampM)
      (cm, hits.getOrElse(cm, 0.0))
    } finally graft.Frames.freePinned(champTopk)
    if (champMeasured < targetRecall) System.err.println(
      s"[graft.TextRank] champion-depth calibration on $phys: even " +
        s"m=$ChampM reaches only $champMeasured < target $targetRecall " +
        "— persisting the full depth; the residual is the target's " +
        "complement")
    val cal = TextCal(chosenFrac, chosenM, targetRecall, pruneMeasured,
      champMeasured, docsAtCal = nDocs)
    // a standing FUSED pair (the hybrid sweep's columns) carries forward
    // — this sweep owns the sparse knobs only, and the fused pair's own
    // docs_at_cal anchor keeps its staleness visible until the hybrid
    // sweep reruns
    writeTextCal(s, phys, cal, textHybridCalOf(s, phys))
    cal
  }

  /** The persisted JOINT hybrid-serving calibration (round 16 — VERDICT
    * r15 #5): the (sparse df-threshold, dense nprobe) pair the fused
    * deployment point serves at, chosen against a FUSED-recall target —
    * the row-232 discipline applied to the composition knob q150 grades
    * but nothing previously chose from.
    */
  case class HybridCal(dfFrac: Double, nprobe: Int, family: String,
                       target: Double, measured: Double, docsAtCal: Long,
                       // the dense arm's ADC shortlist depth (round 16
                       // second pass): ServeRehearsal measured the FIXED
                       // 64-candidate shortlist as the binding residual
                       // at 10×/30× (denser neighborhoods, constant
                       // shortlist), so the sweep escalates it as a
                       // third knob; 64 on a pre-column row
                       adcTopC: Int = 64)

  /** Read a text index's persisted fused pair — None when the hybrid
    * sweep never ran (pre-r16 `_cal` rows carry no fused columns; the
    * sentinels are fused_nprobe < 1).
    */
  def textHybridCalOf(s: SparkSession, table0: String): Option[HybridCal] = {
    val phys = graft.sources.TablePointer.resolve(s, table0)
    if (!s.catalog.tableExists(s"${phys}_cal")) None
    else s.table(s"${phys}_cal").collect().headOption.flatMap { r =>
      val f = r.schema.fieldNames
      if (!f.contains("fused_nprobe") || r.getAs[Int]("fused_nprobe") < 1) None
      else Some(HybridCal(r.getAs[Double]("fused_df_frac"),
        r.getAs[Int]("fused_nprobe"), r.getAs[String]("fused_family"),
        r.getAs[Double]("fused_recall_target"),
        r.getAs[Double]("fused_recall_measured"),
        r.getAs[Long]("fused_docs_at_cal"),
        if (f.contains("fused_adc_top_c")) r.getAs[Int]("fused_adc_top_c")
        else 64))
    }
  }

  /** The `_cal` row, whole: sparse serving knobs + the fused pair (−1 /
    * empty sentinels when the hybrid sweep hasn't run). One writer so
    * the two sweeps can never tear each other's columns.
    */
  private def writeTextCal(s: SparkSession, phys: String, cal: TextCal,
                           fused: Option[HybridCal]): Unit = {
    import s.implicits._
    graft.sources.Ingest.clearStaleLocation(s, s"${phys}_cal")
    Seq((cal.maxDfFrac, cal.champM, cal.target, cal.pruneMeasured,
        cal.champMeasured, cal.docsAtCal,
        fused.map(_.dfFrac).getOrElse(-1.0),
        fused.map(_.nprobe).getOrElse(-1),
        fused.map(_.family).getOrElse(""),
        fused.map(_.target).getOrElse(-1.0),
        fused.map(_.measured).getOrElse(-1.0),
        fused.map(_.docsAtCal).getOrElse(-1L),
        fused.map(_.adcTopC).getOrElse(-1)))
      .toDF("max_df_frac", "champ_m", "recall_target", "prune_measured",
        "champ_measured", "docs_at_cal", "fused_df_frac", "fused_nprobe",
        "fused_family", "fused_recall_target", "fused_recall_measured",
        "fused_docs_at_cal", "fused_adc_top_c")
      .write.mode("overwrite").format("parquet").saveAsTable(s"${phys}_cal")
  }

  /** Derive the fused deployment pair (sparseDfFrac, nprobe) from the
    * standing indexes' OWN measured fused recall and persist it in the
    * text `_cal` (round 16 — VERDICT r15 #5): [[calibrateTextServing]]
    * picks the sparse knobs against the SPARSE exact ranking only, and
    * q150 measures — but never chooses — the fused operating point this
    * entry point now selects. Truth is [[fuseRrf]] over both EXACT arms
    * (the index-served sparse ranking at frac 1.0; brute-force decimal
    * cosine over the standing vector index's members); candidates are
    * evaluated through the REAL deployment path
    * ([[hybridSearchIndexed]] — every approximation it ships, ADC and
    * rerank included, is priced into the measured recall). The panel is
    * [[calibrateTextServing]]'s (derived from the postings, bounded by
    * construction); panel vectors come from the vector index's members.
    *
    * Chosen: candidates are evaluated cheapest-first — nprobe ascending
    * (dense probes dominate the deployment cost), df-fraction ascending
    * within — and the FIRST pair meeting `targetRecall` is persisted
    * (early exit: an easily-met target costs one serving call). When no
    * pair qualifies, the exactness end (frac 1.0, nprobe = nlist) is
    * persisted with its measured recall and a loud warning — that is
    * the closest the serving path can get, and the residual (ADC top-C
    * and rerank cuts) is the target's documented complement.
    *
    * Cost: one sparse exact ranking + ONE members scan (the dense
    * truth) + ≤ |ladder|×|fracs| bounded-panel serving calls, paid at
    * calibration time only. Writers serialize under the caller's lock
    * ([[graft.Admit]]'s convention); `_cal` is the single table written.
    */
  def calibrateHybridServing(s: SparkSession, textTable: String,
      vecTable: String, targetRecall: Double, k: Int = 10,
      family: String = "pq", adcTopC: Int = 64, nPanel: Int = 12): HybridCal = {
    import s.implicits._
    val phys = graft.sources.TablePointer.resolve(s, textTable)
    val sparseCal = textCalOf(s, phys).getOrElse(throw new IllegalStateException(
      s"$phys has no `_cal` — run calibrateTextServing (or a calibrated " +
        "refresh) first; the fused sweep extends the text calibration, " +
        "never replaces it"))
    val vphys = graft.sources.TablePointer.resolve(s, vecTable)
    // the text sweep's panel derivation, verbatim — same docs, same terms
    val post = s.table(phys)
    val panelDocs = post.select("doc_id").distinct().orderBy("doc_id")
      .limit(nPanel)
    val tw = Window.partitionBy("q_id").orderBy("term")
    val panelRows = post.join(broadcast(panelDocs), "doc_id")
      .select(col("doc_id").as("q_id"), col("term")).distinct()
      .withColumn("tr", row_number().over(tw)).filter(col("tr") <= 6)
      .select("q_id", "term")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    require(panelRows.nonEmpty,
      s"hybrid calibration panel for $phys is empty — the index has no postings")
    val qt = broadcast(panelRows.toDF("q_id", "term"))
    val queries = s.table(vphys).select("vec_id", "emb")
      .join(broadcast(panelDocs.select(col("doc_id").as("vec_id"))), "vec_id")
      .localCheckpoint(true)
    try {
      require(queries.count() > 0,
        s"no panel document has a vector in $vphys — a fused calibration " +
          "would measure the sparse arm alone; refresh the vector index " +
          "over the same corpus first")
      // truth: both arms EXACT — the sparse index ranking unpruned, the
      // dense brute-force decimal cosine over the standing members
      val sparseExact = searchTextIndex(s, phys, qt, k, maxDfFrac = 1.0)
        .select(col("q_id"), col("doc_id"), col("rk").as("sparse_rank"))
      val members = s.table(vphys)
        .select(col("vec_id").as("doc_id"), col("emb").as("nemb"))
        .withColumn("nn", Ann.dotDec("nemb", "nemb"))
      val q = queries.select(col("vec_id").as("q_id"), col("emb").as("qemb"))
        .withColumn("qn", Ann.dotDec("qemb", "qemb"))
      val dW = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("doc_id"))
      val denseExact = members.crossJoin(broadcast(q))
        .filter(col("doc_id") =!= col("q_id"))
        .select(col("q_id"), col("doc_id"),
          Num.roundD(Ann.dotDec("qemb", "nemb").cast("double") /
            sqrt(col("qn").cast("double") * col("nn").cast("double")))
            .as("cosine"))
        .withColumn("dense_rank", row_number().over(dW))
        .filter(col("dense_rank") <= k)
        .select("q_id", "doc_id", "dense_rank")
      val truth = fuseRrf(sparseExact, denseExact, k)
        .select("q_id", "doc_id").localCheckpoint(true)
      try {
        val nTruth = truth.count().toDouble
        require(nTruth > 0,
          s"hybrid calibration on $phys: the fused-exact truth is EMPTY — " +
            "no recall to measure; not persisting a fused pair")
        // candidate grids, bounded (the CalRehearsal rule): ≤ 3 df
        // fractions from the panel's own decision points + the
        // exactness end, × the nprobe doubling ladder
        val nDocs = s.table(s"${phys}_meta").agg(sum("n_docs"))
          .head().getLong(0)
        val qterms = qt.select("term").distinct()
        val fracsAll = s.table(s"${phys}_df")
          .join(broadcast(qterms), "term")
          .groupBy("term").agg(sum("df").as("df"))
          .select("df").collect()
          .map(_.getLong(0).toDouble / nDocs).distinct.sorted
        val fracPicks =
          (if (fracsAll.length <= 2) fracsAll.toSeq
           else Seq(fracsAll.head, fracsAll(fracsAll.length / 2),
             fracsAll.last)) :+ 1.0
        val fracs = fracPicks.distinct.sorted
        val nlist = s.table(s"${vphys}_centroids").count().toInt
        val ladder = (Seq(1, 2, 4, 8).filter(_ < nlist) :+ nlist).distinct
        def recallAt(frac: Double, np: Int, adc: Int): Double = {
          val fused = hybridSearchIndexed(s, phys, vphys, qt, queries, k,
              family, np, adc, frac)
            .select(col("q_id"), col("doc_id"), lit(1).as("hit"))
          truth.join(fused, Seq("q_id", "doc_id"), "left")
            .agg(count(col("hit"))).head().getLong(0) / nTruth
        }
        // the ADC shortlist depth escalates as a THIRD knob (round 16
        // second pass — ServeRehearsal measured the fixed 64-candidate
        // shortlist as the 10×/30× fused-recall ceiling: denser
        // neighborhoods, constant shortlist). Cost-ordered with one
        // CEILING probe per depth: the exactness end (frac 1.0,
        // nprobe = nlist) at depth d bounds every (frac, np) pair at d,
        // so a failing ceiling skips the whole depth for one call and
        // the sweep stays a bounded multiple of one ranking (the
        // CalRehearsal rule — worst case |depths| + |ladder|·|fracs|
        // calls, typical far fewer via early exit)
        var chosen: Option[(Double, Int, Int, Double)] = None
        var lastCeil = -1.0
        for (adc <- Seq(adcTopC, adcTopC * 2, adcTopC * 4).distinct
             if chosen.isEmpty) {
          lastCeil = recallAt(1.0, nlist, adc)
          if (lastCeil >= targetRecall) {
            for (np <- ladder; frac <- fracs if chosen.isEmpty) {
              val rec = recallAt(frac, np, adc)
              if (rec >= targetRecall) chosen = Some((frac, np, adc, rec))
            }
            // the ceiling itself qualifies even when no cheaper pair does
            if (chosen.isEmpty) chosen = Some((1.0, nlist, adc, lastCeil))
          }
        }
        val (cf, cn, ca, measured) = chosen.getOrElse {
          val deepest = adcTopC * 4
          System.err.println(
            s"[graft.TextRank] fused calibration on $phys×$vphys: even " +
              s"the exactness end (frac 1.0, nprobe $nlist, adcTopC " +
              s"$deepest) reaches only $lastCeil < target $targetRecall " +
              "— persisting it; the residual (the rerank cut on what the " +
              "deepest shortlist still misses) is the target's " +
              "documented complement")
          (1.0, nlist, deepest, lastCeil)
        }
        val hc = HybridCal(cf, cn, family, targetRecall, measured, nDocs, ca)
        writeTextCal(s, phys, sparseCal, Some(hc))
        hc
      } finally graft.Frames.freePinned(truth)
    } finally graft.Frames.freePinned(queries)
  }

  val q143Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
       |  FROM documents),
       |t AS (SELECT doc_id, term FROM toks WHERE len(term) > 0),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
       |df AS (SELECT term, COUNT(*) AS df
       |       FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
       |ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |qraw AS (
       |  SELECT doc_id AS q_id,
       |    unnest(list_distinct(string_split(lower(trim(text)), ' ')[1:6])) AS term
       |  FROM documents WHERE doc_id % 101 = 0 AND doc_id < 3500),
       |qt AS (SELECT q_id, term FROM qraw WHERE len(term) > 0),
       |contrib AS (
       |  SELECT qt.q_id, tf.doc_id,
       |    (ln(1.0 + (n.n - CAST(df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)))
       |      * ((CAST(tf.tf AS DOUBLE) * 2.2) /
       |         (CAST(tf.tf AS DOUBLE) + 1.2 *
       |          (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / ad.avgdl)))) AS w
       |  FROM qt JOIN tf USING (term) JOIN df USING (term)
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN n CROSS JOIN ad
       |  WHERE tf.doc_id <> qt.q_id),
       |sc AS (
       |  SELECT q_id, doc_id, SUM(CAST(w AS DECIMAL(25,6))) AS score_dec
       |  FROM contrib GROUP BY 1, 2),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY score_dec DESC, doc_id) AS rk
       |  FROM sc)
       |SELECT q_id, rk, doc_id,
       |  ${Num.sqlRoundD("CAST(score_dec AS DOUBLE)")} AS bm25
       |FROM r WHERE rk <= 10
       |ORDER BY q_id, rk""".stripMargin

  // --------------------------------------------------------------- q147

  /** q147: the index-elimination recall grid — how much ranking fidelity
    * each df-threshold buys away. For every threshold, prune query terms
    * with `df > thr·N` (the [[bm25TopK]]/[[searchTextIndex]]
    * `maxDfFrac` knob), rank, and score mean recall@k against the exact
    * ranking (the thr = 1.0 row — its recall is 1.0 by construction, the
    * grid's self-check). `kept_terms` counts the panel terms that
    * survive each threshold: on a stopword-heavy corpus the interesting
    * rows are the ones that keep only the rare tail.
    *
    * This is the text family's q91/q98 move: the approximate serving
    * tier earns a measured recall curve, so the knob is chosen from
    * data, not vibes. One corpus pass feeds every threshold (the grid is
    * a broadcast 5-row cross join), and the rank windows partition by
    * (thr, q_id) — the q143 WindowGroupLimit class.
    */
  /** The q147/q148 grids pay |panel| × |thresholds or depths| × the
    * matched-postings ranking — a calibration artifact, not a serving
    * path, so the panel is the CALIBRATION slice of [[corpusQueryPanel]]
    * (doc_id < 1200: ~1/3 of the full panel). A recall mean over 12
    * queries prices the knob as well as one over 34 at a third of the
    * oracle cost; the serving paths themselves are graded on the full
    * panel by the CorpusOpsSpec bit-equality cases.
    */
  private def calibrationPanel(docs: DataFrame): DataFrame =
    corpusQueryPanel(docs).filter(col("q_id") < 1200)

  def q147PrunedRecall(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val qt = calibrationPanel(docs)
    // ONE ingredient build feeds the scoring grid AND the kept-terms
    // rollup (round 17: the kept rollup used to re-tokenize the corpus
    // for a df frame bit-identical to the one the grid already joins)
    val f = bm25Frames(docs)
    val weighted = withBm25Weight(bm25ContribFrom(f, qt))
    val thrDf = Seq(0.10, 0.75, 0.78, 0.80, 1.00).toDF("thr")
    val grid = weighted.crossJoin(broadcast(thrDf))
      .filter(col("df").cast("double") <= col("thr") * col("n"))
    val sc = grid.groupBy("thr", "q_id", "doc_id")
      .agg(Num.exactSum(col("w")).as("score_dec"))
    val w = Window.partitionBy("thr", "q_id")
      .orderBy(col("score_dec").desc, col("doc_id"))
    val topk = sc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).select("thr", "q_id", "doc_id")
    val exact = topk.filter(col("thr") === 1.0).select("q_id", "doc_id")
    val hits = topk.join(exact, Seq("q_id", "doc_id"))
      .groupBy("thr").agg(count(lit(1)).as("hits"))
    // kept terms from the same df/N frames the scoring reads, joined at
    // the VOCABULARY grain (panel terms absent from the corpus have no
    // df row and count in neither engine)
    val kept = qt.select("term").distinct()
      .join(f.df, "term").crossJoin(broadcast(f.n)).crossJoin(broadcast(thrDf))
      .filter(col("df").cast("double") <= col("thr") * col("n"))
      .groupBy("thr").agg(count(lit(1)).as("kept_terms"))
    val nq = qt.select("q_id").distinct().agg(count(lit(1)).as("nq"))
    thrDf.join(hits, Seq("thr"), "left").join(kept, Seq("thr"), "left")
      .crossJoin(broadcast(nq))
      .select(col("thr"), coalesce(col("kept_terms"), lit(0L)).as("kept_terms"),
        Num.roundD(coalesce(col("hits"), lit(0L)).cast("double") /
          (lit(k) * col("nq")).cast("double")).as("mean_recall"))
      .orderBy("thr")
  }

  val q147Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
       |  FROM documents),
       |t AS (SELECT doc_id, term FROM toks WHERE len(term) > 0),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
       |df AS (SELECT term, COUNT(*) AS df
       |       FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
       |ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |qraw AS (
       |  SELECT doc_id AS q_id,
       |    unnest(list_distinct(string_split(lower(trim(text)), ' ')[1:6])) AS term
       |  FROM documents WHERE doc_id % 101 = 0 AND doc_id < 1200),
       |qt AS (SELECT q_id, term FROM qraw WHERE len(term) > 0),
       |thr AS (SELECT CAST(unnest([0.10, 0.75, 0.78, 0.80, 1.00]) AS DOUBLE) AS thr),
       |contrib AS (
       |  SELECT qt.q_id, tf.doc_id, df.df, n.n,
       |    (ln(1.0 + (n.n - CAST(df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)))
       |      * ((CAST(tf.tf AS DOUBLE) * 2.2) /
       |         (CAST(tf.tf AS DOUBLE) + 1.2 *
       |          (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / ad.avgdl)))) AS w
       |  FROM qt JOIN tf USING (term) JOIN df USING (term)
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN n CROSS JOIN ad
       |  WHERE tf.doc_id <> qt.q_id),
       |grid AS (
       |  SELECT thr.thr, c.q_id, c.doc_id, c.w
       |  FROM contrib c CROSS JOIN thr
       |  WHERE CAST(c.df AS DOUBLE) <= thr.thr * c.n),
       |sc AS (
       |  SELECT thr, q_id, doc_id, SUM(CAST(w AS DECIMAL(25,6))) AS score_dec
       |  FROM grid GROUP BY 1, 2, 3),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY thr, q_id
       |    ORDER BY score_dec DESC, doc_id) AS rk FROM sc),
       |topk AS (SELECT thr, q_id, doc_id FROM r WHERE rk <= 10),
       |exact AS (SELECT q_id, doc_id FROM topk WHERE thr = 1.0),
       |hits AS (
       |  SELECT thr, COUNT(*) AS hits
       |  FROM topk JOIN exact USING (q_id, doc_id) GROUP BY 1),
       |kept AS (
       |  SELECT thr.thr, COUNT(*) AS kept_terms
       |  FROM (SELECT DISTINCT term FROM qt) p
       |  JOIN df USING (term) CROSS JOIN n CROSS JOIN thr
       |  WHERE CAST(df.df AS DOUBLE) <= thr.thr * n.n GROUP BY 1),
       |nq AS (SELECT COUNT(DISTINCT q_id) AS nq FROM qt)
       |SELECT thr.thr AS thr, COALESCE(kept.kept_terms, 0) AS kept_terms,
       |  ${Num.sqlRoundD("CAST(COALESCE(hits.hits, 0) AS DOUBLE) / CAST(10 * nq.nq AS DOUBLE)")} AS mean_recall
       |FROM thr LEFT JOIN hits ON thr.thr = hits.thr
       |LEFT JOIN kept ON thr.thr = kept.thr
       |CROSS JOIN nq
       |ORDER BY thr""".stripMargin

  // --------------------------------------------------------------- q148

  /** q148: the champion-list recall grid — recall@k of champion-only
    * candidate generation at depths m, against the exact ranking. The
    * champion list of a term is its top-m postings by impact (tf desc,
    * doc_id — the total order the `_champ` companion materializes);
    * scoring uses ONLY champion postings (a matched term whose posting
    * for a doc fell outside its champions contributes nothing — the
    * classic fidelity trade), while df/N/avgdl stay exact.
    * `cand_postings` counts the candidate rows the panel touches at each
    * m — the number that stays FLAT as the corpus grows, which is the
    * whole point of the tier.
    */
  def q148ChampionRecall(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val qt = calibrationPanel(docs)
    // ONE ingredient build feeds the grid, the champion ranks AND the
    // exact arm (round 17: champ re-tokenized the corpus for the same tf
    // frame, and the exact arm re-ran the whole contrib pipeline through
    // bm25TopK)
    val f = bm25Frames(docs)
    val contrib = bm25ContribFrom(f, qt)
    val weighted = withBm25Weight(contrib)
    val mDf = Seq(8, 32, 128).toDF("m")
    // champion rank over the FULL posting list of each panel term —
    // per-query self-exclusion must not perturb the shared candidates
    val perTerm = Window.partitionBy("term").orderBy(col("tf").desc, col("doc_id"))
    val champ = f.tf
      .join(broadcast(qt.select("term").distinct()), "term")
      .withColumn("rn", row_number().over(perTerm))
    val grid = weighted
      .join(champ.select("term", "doc_id", "rn"), Seq("term", "doc_id"))
      .crossJoin(broadcast(mDf)).filter(col("rn") <= col("m"))
    val sc = grid.groupBy("m", "q_id", "doc_id")
      .agg(Num.exactSum(col("w")).as("score_dec"))
    val w = Window.partitionBy("m", "q_id")
      .orderBy(col("score_dec").desc, col("doc_id"))
    val topk = sc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).select("m", "q_id", "doc_id")
    // the exact ranking over the SAME weighted contrib (≡ bm25TopK at
    // maxDfFrac 1.0, which would rebuild every ingredient from the raw
    // corpus a second time)
    val exact = rankBm25(weighted, k).select("q_id", "doc_id")
    val hits = topk.join(exact, Seq("q_id", "doc_id"))
      .groupBy("m").agg(count(lit(1)).as("hits"))
    val cand = champ.crossJoin(broadcast(mDf)).filter(col("rn") <= col("m"))
      .groupBy("m").agg(count(lit(1)).as("cand_postings"))
    val nq = qt.select("q_id").distinct().agg(count(lit(1)).as("nq"))
    mDf.join(hits, Seq("m"), "left").join(cand, Seq("m"), "left")
      .crossJoin(broadcast(nq))
      .select(col("m"), coalesce(col("cand_postings"), lit(0L)).as("cand_postings"),
        Num.roundD(coalesce(col("hits"), lit(0L)).cast("double") /
          (lit(k) * col("nq")).cast("double")).as("mean_recall"))
      .orderBy("m")
  }

  val q148Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
       |  FROM documents),
       |t AS (SELECT doc_id, term FROM toks WHERE len(term) > 0),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
       |df AS (SELECT term, COUNT(*) AS df
       |       FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
       |ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |qraw AS (
       |  SELECT doc_id AS q_id,
       |    unnest(list_distinct(string_split(lower(trim(text)), ' ')[1:6])) AS term
       |  FROM documents WHERE doc_id % 101 = 0 AND doc_id < 1200),
       |qt AS (SELECT q_id, term FROM qraw WHERE len(term) > 0),
       |ms AS (SELECT unnest([8, 32, 128]) AS m),
       |champ AS (
       |  SELECT tf.term, tf.doc_id, ROW_NUMBER() OVER (PARTITION BY tf.term
       |    ORDER BY tf.tf DESC, tf.doc_id) AS rn
       |  FROM tf JOIN (SELECT DISTINCT term FROM qt) p USING (term)),
       |contrib AS (
       |  SELECT qt.q_id, tf.term, tf.doc_id,
       |    (ln(1.0 + (n.n - CAST(df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)))
       |      * ((CAST(tf.tf AS DOUBLE) * 2.2) /
       |         (CAST(tf.tf AS DOUBLE) + 1.2 *
       |          (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / ad.avgdl)))) AS w
       |  FROM qt JOIN tf USING (term) JOIN df USING (term)
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN n CROSS JOIN ad
       |  WHERE tf.doc_id <> qt.q_id),
       |grid AS (
       |  SELECT ms.m, c.q_id, c.doc_id, c.w
       |  FROM contrib c
       |  JOIN champ ON champ.term = c.term AND champ.doc_id = c.doc_id
       |  CROSS JOIN ms WHERE champ.rn <= ms.m),
       |sc AS (
       |  SELECT m, q_id, doc_id, SUM(CAST(w AS DECIMAL(25,6))) AS score_dec
       |  FROM grid GROUP BY 1, 2, 3),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY m, q_id
       |    ORDER BY score_dec DESC, doc_id) AS rk FROM sc),
       |topk AS (SELECT m, q_id, doc_id FROM r WHERE rk <= 10),
       |esc AS (
       |  SELECT q_id, doc_id, SUM(CAST(w AS DECIMAL(25,6))) AS score_dec
       |  FROM contrib GROUP BY 1, 2),
       |er AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY score_dec DESC, doc_id) AS rk FROM esc),
       |exact AS (SELECT q_id, doc_id FROM er WHERE rk <= 10),
       |hits AS (
       |  SELECT m, COUNT(*) AS hits
       |  FROM topk JOIN exact USING (q_id, doc_id) GROUP BY 1),
       |cand AS (
       |  SELECT ms.m, COUNT(*) AS cand_postings
       |  FROM champ CROSS JOIN ms WHERE champ.rn <= ms.m GROUP BY 1),
       |nq AS (SELECT COUNT(DISTINCT q_id) AS nq FROM qt)
       |SELECT ms.m AS m, COALESCE(cand.cand_postings, 0) AS cand_postings,
       |  ${Num.sqlRoundD("CAST(COALESCE(hits.hits, 0) AS DOUBLE) / CAST(10 * nq.nq AS DOUBLE)")} AS mean_recall
       |FROM ms LEFT JOIN hits ON ms.m = hits.m
       |LEFT JOIN cand ON ms.m = cand.m
       |CROSS JOIN nq
       |ORDER BY m""".stripMargin

  // --------------------------------------------------------------- q146

  /** q146: hybrid retrieval via Reciprocal Rank Fusion — the modern
    * two-tower stack: a sparse BM25 arm ([[bm25TopK]], exact lexical
    * match) and a dense cosine arm (embeddings, semantic match) each
    * rank top-k for the SAME query panel, and RRF fuses them on ranks
    * alone (score = Σ 1/(60 + rank) over the arms that retrieved the
    * doc) — no score normalization across incommensurable scales, the
    * reason RRF is the default fusion in production search. A rank of 0
    * in the output means "not retrieved by that arm".
    *
    * Scale shape: both arms are the already-audited bounded-panel
    * shapes (q143's broadcast postings join; q25's broadcast
    * nested-loop exact baseline, swappable for the standing-index
    * probes at 100 TB), and the fusion itself is a full-outer equi-join
    * of two ≤ |Q|·k frames — negligible at any corpus size. RRF terms
    * are single IEEE divisions in a fixed association order, so fused
    * ranking is engine-portable without decimals.
    */
  def q146HybridRetrieval(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val isQ = (c: Column) => c % 101 === 0 && c < 3500
    val qt = docs.filter(isQ(col("doc_id")))
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(split(lower(trim(col("text"))), " "), 1, 6))).as("term"))
      .filter(length(col("term")) > 0)
    val sparse = bm25TopK(docs, qt, k)
      .select(col("q_id"), col("doc_id"), col("rk").as("sparse_rank"))
    val e = Tables.load(s, dir, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
    val q = e.filter(isQ(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("emb").as("qemb"))
      .withColumn("qn", Ann.dotDec("qemb", "qemb"))
    // CPU-spread under the corpus × panel decimal pass (round 18 —
    // Tuning.spreadSmall): the single-row-group scan otherwise runs the
    // whole |corpus| × |panel| cosine fold as ONE task (Diag: a 2.5 s
    // single-task broadcast-build job, the suite's textbook byte-blind
    // serialization); no-op at real corpus sizes where scan splits
    // already parallelize
    val n = graft.Tuning.spreadSmall(
        e.select(col("vec_id").as("doc_id"), col("emb").as("nemb")))
      .withColumn("nn", Ann.dotDec("nemb", "nemb"))
    val dW = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("doc_id"))
    val dense = n.crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id"),
        Num.roundD(Ann.dotDec("qemb", "nemb").cast("double") /
          sqrt(col("qn").cast("double") * col("nn").cast("double"))).as("cosine"))
      .withColumn("dense_rank", row_number().over(dW))
      .filter(col("dense_rank") <= k)
      .select("q_id", "doc_id", "dense_rank")
    fuseRrf(sparse, dense, k).orderBy("q_id", "rank")
  }

  /** Reciprocal Rank Fusion of a sparse arm (`q_id`, `doc_id`,
    * `sparse_rank`) and a dense arm (`q_id`, `doc_id`, `dense_rank`) —
    * shared verbatim by the oracle query and the index-backed twin.
    * Full-outer on (q, doc); an absent arm contributes 0 and reads as
    * rank 0 in the output.
    */
  def fuseRrf(sparse: DataFrame, dense: DataFrame, k: Int = 10,
              c: Double = 60.0): DataFrame = {
    val fW = Window.partitionBy("q_id").orderBy(col("rrf0").desc, col("doc_id"))
    sparse.join(dense, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf0",
        coalesce(lit(1.0) / (lit(c) + col("sparse_rank").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("dense_rank").cast("double")), lit(0.0)))
      .withColumn("rank", row_number().over(fW))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"),
        Num.roundD(col("rrf0"), 6).as("rrf"),
        coalesce(col("sparse_rank"), lit(0)).as("sparse_rank"),
        coalesce(col("dense_rank"), lit(0)).as("dense_rank"))
  }

  /** The fully index-backed production twin of [[q146HybridRetrieval]]:
    * the sparse arm serves from the standing BM25 index
    * ([[searchTextIndex]]), the dense arm from a standing vector index
    * ([[Ann.searchPqIndex]]/[[Ann.searchSemanticIndex]] — nprobe cells
    * per query, never the corpus), and [[fuseRrf]] is shared verbatim.
    * `qt` carries the query terms (`q_id`, `term`), `queries` the query
    * vectors (`vec_id`, `emb`) — same ids, the two sides of one query
    * panel. At 100 TB this is the hybrid serving path: both arms
    * exchange-free on their index side, fusion a ≤ |Q|·k join.
    */
  def hybridSearchIndexed(s: SparkSession, textTable: String,
      vecTable: String, qt: DataFrame, queries: DataFrame, k: Int = 10,
      family: String = "pq", nprobe: Int = 3, adcTopC: Int = 64,
      sparseDfFrac: Double = 1.0): DataFrame = {
    // sparseDfFrac < 1.0 serves the sparse arm through index
    // elimination (the q147-graded tier) — the hybrid twin of the dense
    // arm's nprobe knob, for corpora whose stopword posting lists
    // dominate the exact arm's cost.
    // nprobe = 0 / sparseDfFrac = 0.0 are AUTO (round 16 — VERDICT r15
    // #5): serve at the JOINTLY calibrated fused pair
    // ([[calibrateHybridServing]], persisted in the text `_cal`); with
    // no fused pair — or one measured on a DIFFERENT vector family,
    // which must not silently govern this one — degrade toward
    // EXACTNESS: frac 1.0, nprobe = every cell (the dense arm's
    // residual is then only its ADC/rerank cuts).
    val hc = if (nprobe == 0 || sparseDfFrac == 0.0 || adcTopC == 0)
      textHybridCalOf(s, textTable).filter(_.family == family) else None
    val npEff =
      if (nprobe != 0) nprobe
      else hc.map(_.nprobe).getOrElse(
        s.table(s"${Ann.physicalOf(s, vecTable)}_centroids").count().toInt)
    val fracEff =
      if (sparseDfFrac != 0.0) sparseDfFrac
      else hc.map(_.dfFrac).getOrElse(1.0)
    // adcTopC = 0 is the same AUTO: the calibrated shortlist depth, or
    // the historical 64 without a pair (deepening the shortlist is a
    // measured choice, never a silent one)
    val adcEff =
      if (adcTopC != 0) adcTopC
      else hc.map(_.adcTopC).getOrElse(64)
    val sparse = searchTextIndex(s, textTable, qt, k, maxDfFrac = fracEff)
      .select(col("q_id"), col("doc_id"), col("rk").as("sparse_rank"))
    val dense = (family match {
      case "pq" => Ann.searchPqIndex(s, vecTable, queries, k, npEff, adcEff)
      case "sem" => Ann.searchSemanticIndex(s, vecTable, queries, k, npEff)
      case other => throw new IllegalArgumentException(
        s"family must be pq or sem, got $other")
    }).select(col("q_id"), col("n_id").as("doc_id"), col("rank").as("dense_rank"))
    fuseRrf(sparse, dense, k).orderBy("q_id", "rank")
  }

  val q146Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
       |  FROM documents),
       |t AS (SELECT doc_id, term FROM toks WHERE len(term) > 0),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
       |df AS (SELECT term, COUNT(*) AS df
       |       FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
       |ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |qraw AS (
       |  SELECT doc_id AS q_id,
       |    unnest(list_distinct(string_split(lower(trim(text)), ' ')[1:6])) AS term
       |  FROM documents WHERE doc_id % 101 = 0 AND doc_id < 3500),
       |qt AS (SELECT q_id, term FROM qraw WHERE len(term) > 0),
       |contrib AS (
       |  SELECT qt.q_id, tf.doc_id,
       |    (ln(1.0 + (n.n - CAST(df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)))
       |      * ((CAST(tf.tf AS DOUBLE) * 2.2) /
       |         (CAST(tf.tf AS DOUBLE) + 1.2 *
       |          (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / ad.avgdl)))) AS w
       |  FROM qt JOIN tf USING (term) JOIN df USING (term)
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN n CROSS JOIN ad
       |  WHERE tf.doc_id <> qt.q_id),
       |sc AS (
       |  SELECT q_id, doc_id, SUM(CAST(w AS DECIMAL(25,6))) AS score_dec
       |  FROM contrib GROUP BY 1, 2),
       |sparse AS (
       |  SELECT q_id, doc_id, sparse_rank FROM (
       |    SELECT q_id, doc_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY score_dec DESC, doc_id) AS sparse_rank
       |    FROM sc) z WHERE sparse_rank <= 10),
       |expl AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
       |    CAST(unnest(embedding) AS DOUBLE) AS v
       |  FROM embeddings),
       |norms AS (
       |  SELECT vec_id, SUM(CAST(v * v AS DECIMAL(25,12))) AS norm2
       |  FROM expl GROUP BY vec_id),
       |dots AS (
       |  SELECT q.vec_id AS q_id, nb.vec_id AS doc_id,
       |    SUM(CAST(q.v * nb.v AS DECIMAL(25,12))) AS dotp
       |  FROM expl q JOIN expl nb ON q.pos = nb.pos
       |    AND q.vec_id % 101 = 0 AND q.vec_id < 3500 AND nb.vec_id <> q.vec_id
       |  GROUP BY 1, 2),
       |dscored AS (
       |  SELECT d.q_id, d.doc_id,
       |    ${Num.sqlRoundD("CAST(d.dotp AS DOUBLE) / SQRT(CAST(qn.norm2 AS DOUBLE) * CAST(nn.norm2 AS DOUBLE))")} AS cosine
       |  FROM dots d
       |  JOIN norms qn ON qn.vec_id = d.q_id
       |  JOIN norms nn ON nn.vec_id = d.doc_id),
       |dense AS (
       |  SELECT q_id, doc_id, dense_rank FROM (
       |    SELECT q_id, doc_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, doc_id) AS dense_rank
       |    FROM dscored) z WHERE dense_rank <= 10),
       |fused AS (
       |  SELECT q_id, doc_id,
       |    COALESCE(1.0 / (60.0 + CAST(s.sparse_rank AS DOUBLE)), 0.0) +
       |      COALESCE(1.0 / (60.0 + CAST(de.dense_rank AS DOUBLE)), 0.0) AS rrf0,
       |    COALESCE(s.sparse_rank, 0) AS sparse_rank,
       |    COALESCE(de.dense_rank, 0) AS dense_rank
       |  FROM sparse s FULL OUTER JOIN dense de USING (q_id, doc_id))
       |SELECT q_id, rank, doc_id, ${Num.sqlRoundD("rrf0", 6)} AS rrf,
       |  sparse_rank, dense_rank
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY rrf0 DESC, doc_id) AS rank
       |  FROM fused) f
       |WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  // --------------------------------------------------------------- q150

  /** q150: end-to-end hybrid-serving fidelity (round 15 — VERDICT r14
    * #5): q147/q148 grade the sparse arm's approximate tiers in
    * ISOLATION; this grades what a retrieval deployment actually ships —
    * the FUSED ranking when both arms serve approximately. Truth is
    * [[fuseRrf]] over both EXACT arms (q146's ranking on the
    * calibration panel); each operating point swaps in an approximate
    * arm — the sparse arm's df-threshold pruning (`prunedFrac`, the
    * [[hybridSearchIndexed]] `sparseDfFrac` knob) and the dense arm's
    * IVF cell probing (`nprobe` top cells of the label-seeded
    * deterministic quantizer, the q98 leg — exactly the standing
    * semantic index's serving restriction at splits = 1) — and scores
    * micro-averaged recall@k of the fused output against the fused
    * truth. The (exact, exact) row is the grid's self-check (recall 1
    * by construction). Candidate-restriction only: approximate-arm
    * cosines/weights are the exact values on the surviving candidates,
    * so the oracle replays every number.
    *
    * Scale shape: one corpus pass per arm ingredient (the q143/q146
    * classes), the IVF assignment one broadcast-argmax pass, and the
    * four fusions ≤ |panel|·k-row joins. The deployment twin is
    * [[hybridSearchIndexed]] over the standing text + vector indexes;
    * CorpusOpsSpec floors its fused recall at the same operating point.
    */
  def q150HybridFidelity(s: SparkSession, dir: String, k: Int = 10,
      prunedFrac: Double = 0.10, nprobe: Int = 2): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val qt = calibrationPanel(docs)
    // Round-18 restructure (VERDICT r17 #1). Round 17 measured SEQUENTIAL
    // arm pins slower than recompute (eager 8.5 s / lazy 7.9 s vs 6.7 s):
    // four pin barriers in a row serialize what the recompute-happy plan
    // overlapped. This round keeps the pins but removes the serialization:
    // the four ≤ |panel|·k arm tables materialize CONCURRENTLY (guide
    // §2.6 — independent jobs submitted from a small thread pool back-fill
    // each other's stragglers), so the wall cost is max(arm), not Σ(arm),
    // and the truth + grid fusions then consume four tiny pinned tables.
    // Diag before: 64 fully-serialized single-task jobs, 11.2 s job-wall
    // in 5.5 s — every arm pipeline re-ran 2–3×. After: each arm runs
    // exactly once. At 100 TB this is the difference between 4 and ~10
    // corpus-wide scoring passes.
    def sparseArm(frac: Double) =
      bm25TopK(docs, qt, k, frac)
        .select(col("q_id"), col("doc_id"), col("rk").as("sparse_rank"))
    val sparseExact0 = sparseArm(1.0)
    val sparsePruned0 = sparseArm(prunedFrac)
    val e = Tables.load(s, dir, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
    val q = e.filter(col("vec_id") % 101 === 0 && col("vec_id") < 1200)
      .select(col("vec_id").as("q_id"), col("emb").as("qemb"))
      .withColumn("qn", Ann.dotDec("qemb", "qemb"))
    val dW = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("doc_id"))
    def denseRank(cands: DataFrame): DataFrame = cands
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id"),
        Num.roundD(Ann.dotDec("qemb", "nemb").cast("double") /
          sqrt(col("qn").cast("double") * col("nn").cast("double"))).as("cosine"))
      .withColumn("dense_rank", row_number().over(dW))
      .filter(col("dense_rank") <= k)
      .select("q_id", "doc_id", "dense_rank")
    // same CPU-spread as q146's dense arm: the corpus-side decimal pass
    // must not run as one task on a single-split scan (no-op at scale)
    val n = graft.Tuning.spreadSmall(
        e.select(col("vec_id").as("doc_id"), col("emb").as("nemb")))
      .withColumn("nn", Ann.dotDec("nemb", "nemb"))
    val denseExact0 = denseRank(n.crossJoin(broadcast(q)))
    // the IVF arm: label-seeded deterministic centroids (the standing
    // semantic family's splits=1 quantizer), corpus argmax assignment,
    // panel probes its top-nprobe cells; candidate cosines are the
    // exact decimal folds, so restriction is the ONLY approximation
    val seedVecs = e.select("vec_id", "emb", "label")
    val cents = Ann.centroidTable(seedVecs, 1)
    val corpusCells = graft.Tuning.spreadSmall(
        Ann.assignCells(seedVecs, cents)
          .select(col("vec_id").as("doc_id"), col("cell"), col("emb").as("nemb")))
      .withColumn("nn", Ann.dotDec("nemb", "nemb"))
    val probes = {
      val qe = q.withColumn("qq", Ann.quantize(col("qemb")))
        .withColumn("qn2", expr(
          "aggregate(zip_with(qq, qq, (x, y) -> x * y), CAST(0 AS BIGINT), (a, v) -> a + v)"))
      val qdot = expr(
        "CAST(aggregate(zip_with(qq, qcent, (x, y) -> x * y), CAST(0 AS BIGINT), (a, v) -> a + v) AS DOUBLE)")
      val wp = Window.partitionBy("q_id").orderBy(col("csim").desc, col("cell"))
      qe.crossJoin(broadcast(cents))
        .withColumn("csim",
          qdot / sqrt(col("cnorm2").cast("double") * col("qn2").cast("double")))
        .withColumn("rn", row_number().over(wp))
        .filter(col("rn") <= nprobe)
        .select(col("q_id"), col("qemb"), col("qn"), col("cell"))
    }
    val denseIvf0 = denseRank(broadcast(probes).join(corpusCells, Seq("cell")))
    // materialize the four arm tables concurrently (guide §2.6): the
    // barrier costs max(arm), not Σ(arm), and a failed arm leaves no pin
    val pinned = graft.Frames.pinConcurrently(
      Seq(sparseExact0, sparsePruned0, denseExact0, denseIvf0))
    val Seq(sparseExact, sparsePruned, denseExact, denseIvf) = pinned
    // the 4-row grid is checkpointed so the truth and arm pins can be
    // FREED on the way out, failure included (ADVICE r15 — the pagerank
    // rule): the caller holds exactly one tiny checkpoint instead of
    // five corpus-derived pins
    try {
      val truth = fuseRrf(sparseExact, denseExact, k).select("q_id", "doc_id")
        .localCheckpoint(true)
      def op(st: String, dt: String, sp: DataFrame, de: DataFrame): DataFrame = {
        val fused = fuseRrf(sp, de, k)
          .select(col("q_id"), col("doc_id"), lit(1).as("hit"))
        truth.join(fused, Seq("q_id", "doc_id"), "left")
          .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_found"))
          .select(lit(st).as("sparse_tier"), lit(dt).as("dense_tier"),
            col("n_truth"), col("n_found"),
            Num.roundD(col("n_found").cast("double") /
              col("n_truth").cast("double")).as("recall_r"))
      }
      try op("exact", "exact", sparseExact, denseExact)
        .unionByName(op("exact", "ivf", sparseExact, denseIvf))
        .unionByName(op("pruned", "exact", sparsePruned, denseExact))
        .unionByName(op("pruned", "ivf", sparsePruned, denseIvf))
        .orderBy("sparse_tier", "dense_tier")
        .localCheckpoint(true)
      finally graft.Frames.freePinned(truth)
    } finally pinned.foreach(graft.Frames.freePinned)
  }

  val q150Sql: String = {
    // one fusion CTE per operating point — the q146 fusion replayed
    // over each (sparse, dense) arm pair
    def fuse(name: String, sp: String, de: String): String =
      s"""$name AS (
         |  SELECT q_id, doc_id FROM (
         |    SELECT q_id, doc_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY rrf0 DESC, doc_id) AS rank
         |    FROM (
         |      SELECT q_id, doc_id,
         |        COALESCE(1.0 / (60.0 + CAST(s.sparse_rank AS DOUBLE)), 0.0) +
         |          COALESCE(1.0 / (60.0 + CAST(de.dense_rank AS DOUBLE)), 0.0) AS rrf0
         |      FROM $sp s FULL OUTER JOIN $de de USING (q_id, doc_id)) z) f
         |  WHERE rank <= 10)""".stripMargin
    def recallRow(st: String, dt: String, fused: String): String =
      s"""SELECT '$st' AS sparse_tier, '$dt' AS dense_tier,
         |  COUNT(*) AS n_truth, COUNT(f.doc_id) AS n_found,
         |  ${Num.sqlRoundD("CAST(COUNT(f.doc_id) AS DOUBLE) / COUNT(*)")} AS recall_r
         |FROM f_ee t LEFT JOIN $fused f
         |  ON f.q_id = t.q_id AND f.doc_id = t.doc_id""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
       |  FROM documents),
       |t AS (SELECT doc_id, term FROM toks WHERE len(term) > 0),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
       |df AS (SELECT term, COUNT(*) AS df
       |       FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
       |ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |qraw AS (
       |  SELECT doc_id AS q_id,
       |    unnest(list_distinct(string_split(lower(trim(text)), ' ')[1:6])) AS term
       |  FROM documents WHERE doc_id % 101 = 0 AND doc_id < 1200),
       |qt AS (SELECT q_id, term FROM qraw WHERE len(term) > 0),
       |contrib AS (
       |  SELECT qt.q_id, tf.doc_id, df.df, n.n,
       |    (ln(1.0 + (n.n - CAST(df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)))
       |      * ((CAST(tf.tf AS DOUBLE) * 2.2) /
       |         (CAST(tf.tf AS DOUBLE) + 1.2 *
       |          (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / ad.avgdl)))) AS w
       |  FROM qt JOIN tf USING (term) JOIN df USING (term)
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN n CROSS JOIN ad
       |  WHERE tf.doc_id <> qt.q_id),
       |s_exact AS (
       |  SELECT q_id, doc_id, sparse_rank FROM (
       |    SELECT q_id, doc_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY score_dec DESC, doc_id) AS sparse_rank
       |    FROM (SELECT q_id, doc_id, SUM(CAST(w AS DECIMAL(25,6))) AS score_dec
       |          FROM contrib GROUP BY 1, 2) sc) z
       |  WHERE sparse_rank <= 10),
       |s_pruned AS (
       |  SELECT q_id, doc_id, sparse_rank FROM (
       |    SELECT q_id, doc_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY score_dec DESC, doc_id) AS sparse_rank
       |    FROM (SELECT q_id, doc_id, SUM(CAST(w AS DECIMAL(25,6))) AS score_dec
       |          FROM contrib WHERE CAST(df AS DOUBLE) <= 0.10 * n
       |          GROUP BY 1, 2) sc) z
       |  WHERE sparse_rank <= 10),
       |eexpl AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
       |    CAST(unnest(embedding) AS DOUBLE) AS v,
       |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 10000000.0) AS BIGINT) AS q
       |  FROM embeddings),
       |enorm AS (
       |  SELECT vec_id, SUM(CAST(v * v AS DECIMAL(25,12))) AS norm2
       |  FROM eexpl GROUP BY 1),
       |ddots AS (
       |  SELECT qq.vec_id AS q_id, nb.vec_id AS doc_id,
       |    SUM(CAST(qq.v * nb.v AS DECIMAL(25,12))) AS dotp
       |  FROM eexpl qq JOIN eexpl nb ON qq.j = nb.j
       |    AND qq.vec_id % 101 = 0 AND qq.vec_id < 1200
       |    AND nb.vec_id <> qq.vec_id
       |  GROUP BY 1, 2),
       |dscored AS (
       |  SELECT d.q_id, d.doc_id,
       |    ${Num.sqlRoundD("CAST(d.dotp AS DOUBLE) / SQRT(CAST(qn.norm2 AS DOUBLE) * CAST(nn.norm2 AS DOUBLE))")} AS cosine
       |  FROM ddots d
       |  JOIN enorm qn ON qn.vec_id = d.q_id
       |  JOIN enorm nn ON nn.vec_id = d.doc_id),
       |d_exact AS (
       |  SELECT q_id, doc_id, dense_rank FROM (
       |    SELECT q_id, doc_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, doc_id) AS dense_rank
       |    FROM dscored) z WHERE dense_rank <= 10),
       |cent AS (
       |  SELECT l.label AS cell, x.j,
       |    CAST(FLOOR(CAST(CAST(SUM(CAST(x.v AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS DOUBLE) * 10000000.0) AS BIGINT) AS cq
       |  FROM eexpl x JOIN embeddings l ON l.vec_id = x.vec_id
       |  GROUP BY 1, 2),
       |cnorm AS (SELECT cell, SUM(cq * cq) AS n2 FROM cent GROUP BY 1),
       |qn2 AS (SELECT vec_id, SUM(q * q) AS qn2 FROM eexpl GROUP BY 1),
       |vdots AS (
       |  SELECT x.vec_id, ct.cell, SUM(x.q * ct.cq) AS dvc
       |  FROM eexpl x JOIN cent ct ON x.j = ct.j
       |  GROUP BY 1, 2),
       |csims AS (
       |  SELECT d.vec_id, d.cell,
       |    CAST(d.dvc AS DOUBLE) / SQRT(CAST(c.n2 AS DOUBLE) * CAST(qq.qn2 AS DOUBLE)) AS csim
       |  FROM vdots d
       |  JOIN cnorm c ON c.cell = d.cell
       |  JOIN qn2 qq ON qq.vec_id = d.vec_id),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
       |    FROM csims) z
       |  WHERE rn = 1),
       |iprobe AS (
       |  SELECT vec_id AS q_id, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
       |    FROM csims WHERE vec_id % 101 = 0 AND vec_id < 1200) z
       |  WHERE rn <= 2),
       |d_ivf AS (
       |  SELECT q_id, doc_id, dense_rank FROM (
       |    SELECT ds.q_id, ds.doc_id, ROW_NUMBER() OVER (PARTITION BY ds.q_id
       |      ORDER BY ds.cosine DESC, ds.doc_id) AS dense_rank
       |    FROM dscored ds
       |    JOIN iprobe p ON p.q_id = ds.q_id
       |    JOIN asg m ON m.vec_id = ds.doc_id AND m.cell = p.cell) z
       |  WHERE dense_rank <= 10),
       |${fuse("f_ee", "s_exact", "d_exact")},
       |${fuse("f_ei", "s_exact", "d_ivf")},
       |${fuse("f_pe", "s_pruned", "d_exact")},
       |${fuse("f_pi", "s_pruned", "d_ivf")}
       |SELECT * FROM (
       |${recallRow("exact", "exact", "f_ee")}
       |UNION ALL
       |${recallRow("exact", "ivf", "f_ei")}
       |UNION ALL
       |${recallRow("pruned", "exact", "f_pe")}
       |UNION ALL
       |${recallRow("pruned", "ivf", "f_pi")}) r
       |ORDER BY sparse_tier, dense_tier""".stripMargin
  }
}
