package graft.operators

import graft.{Num, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: quality statistics,
  * language-ID heuristic, and content fingerprinting — all pure
  * codegen'd column expressions (split / higher-order list functions /
  * md5), no UDFs, so they run at scan speed and scale embarrassingly.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val toks: Column = split(lower(trim(col("text"))), " ")

  /** Per-document quality statistics over any frame with a `text`
    * column — the computation behind q27, kept separate so composition
    * queries (q53 curated corpus) reuse it without re-deriving the
    * formulas. Adds columns; drops none, so callers keep their schema.
    */
  def stats(d: DataFrame): DataFrame =
    d.withColumn("w", toks)
      .withColumn("n_tokens", size(col("w")).cast("long"))
      // BPE-ish subword count: alpha runs, digit runs, and single
      // punctuation marks each count as one token — the usual cheap
      // stand-in for a real tokenizer's length estimate
      .withColumn("n_tokens_bpe",
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long"))
      .withColumn("avg_token_len",
        Num.roundD((length(lower(trim(col("text")))) - (col("n_tokens") - 1)).cast("double") / col("n_tokens")))
      .withColumn("stopword_ratio",
        Num.roundD(size(expr("filter(w, t -> t IN ('a', 'the'))")).cast("double") / col("n_tokens")))
      .withColumn("type_token_ratio",
        Num.roundD(size(array_distinct(col("w"))).cast("double") / col("n_tokens")))
      .withColumn("quality_score",
        Num.roundD(greatest(lit(0.0), least(lit(1.0),
          lit(0.4) * least(col("n_tokens").cast("double") / 50.0, lit(1.0))
            + lit(0.3) * (lit(1.0) - col("stopword_ratio"))
            + lit(0.3) * col("type_token_ratio")))))

  /** q27: per-document quality statistics — token count, average token
    * length, stopword ratio, type/token ratio, and a composite quality
    * score in [0, 1] (length-normalized, stopword- and repetition-
    * penalized). The shape of a C4/Gopher-style quality filter.
    */
  def q27TextStats(s: SparkSession, dir: String): DataFrame =
    stats(docs(s, dir))
      .select("doc_id", "lang", "n_tokens", "n_tokens_bpe", "avg_token_len",
        "stopword_ratio", "type_token_ratio", "quality_score")
      .orderBy("doc_id")

  val q27Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, n_chars, string_split(lower(trim(text)), ' ') AS w,
       |    lower(trim(text)) AS lt, lower(text) AS ltext
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, lang,
       |    CAST(len(w) AS BIGINT) AS n_tokens,
       |    CAST(len(regexp_extract_all(ltext, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe,
       |    ${Num.sqlRoundD("CAST(len(lt) - (len(w) - 1) AS DOUBLE) / len(w)")} AS avg_token_len,
       |    ${Num.sqlRoundD("CAST(len(list_filter(w, x -> x IN ('a', 'the'))) AS DOUBLE) / len(w)")} AS stopword_ratio,
       |    ${Num.sqlRoundD("CAST(len(list_distinct(w)) AS DOUBLE) / len(w)")} AS type_token_ratio
       |  FROM t)
       |SELECT doc_id, lang, n_tokens, n_tokens_bpe, avg_token_len, stopword_ratio, type_token_ratio,
       |  ${Num.sqlRoundD("GREATEST(0.0, LEAST(1.0, 0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) + 0.3 * (1.0 - stopword_ratio) + 0.3 * type_token_ratio))")} AS quality_score
       |FROM st
       |ORDER BY doc_id""".stripMargin

  /** Marker-word vocabularies for the n-gram/stopword language-ID
    * heuristic. (The synthetic corpus shares one vocabulary across its
    * lang labels, so predictions skew 'en' — the operator's mechanics,
    * scoring + argmax, are what's exercised.)
    */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "batch"),
    "en" -> Seq("the", "a", "fast"),
    "es" -> Seq("el", "los", "row"),
    "fr" -> Seq("le", "la", "line"),
    "zh" -> Seq("spark", "stream", "window"))

  /** q28: language-ID — score each language's marker-word hit count per
    * document, predict the argmax (alphabetical tiebreak), report
    * agreement with the labeled lang.
    */
  def q28LangId(s: SparkSession, dir: String): DataFrame = {
    val scored = markers.foldLeft(docs(s, dir).withColumn("w", toks)) {
      case (df, (lang, ws)) =>
        val inList = ws.map(w => s"'$w'").mkString(", ")
        df.withColumn(s"score_$lang",
          size(expr(s"filter(w, t -> t IN ($inList))")).cast("long"))
    }
    val best = greatest(markers.map { case (l, _) => col(s"score_$l") }: _*)
    // argmax with alphabetical tiebreak: langs are checked in (sorted)
    // marker order, first score equal to the max wins
    val predicted = markers.foldRight(lit("und"): Column) {
      case ((lang, _), elseCol) =>
        when(col(s"score_$lang") === best, lit(lang)).otherwise(elseCol)
    }
    scored
      .withColumn("predicted_lang", predicted)
      .withColumn("is_match", (col("predicted_lang") === col("lang")).cast("int"))
      .select(Seq(col("doc_id"), col("lang"), col("predicted_lang"), col("is_match")) ++
        markers.map { case (l, _) => col(s"score_$l") }: _*)
      .orderBy("doc_id")
  }

  val q28Sql: String = {
    val scoreCols = markers.map { case (lang, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(w, x -> x IN ($inList))) AS BIGINT) AS score_$lang"
    }.mkString(",\n       |    ")
    val best = "GREATEST(" + markers.map { case (l, _) => s"score_$l" }.mkString(", ") + ")"
    val predicted = "CASE " + markers.map { case (l, _) =>
      s"WHEN score_$l = $best THEN '$l'"
    }.mkString(" ") + " ELSE 'und' END"
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS w FROM documents),
       |scored AS (
       |  SELECT doc_id, lang,
       |    $scoreCols
       |  FROM t)
       |SELECT doc_id, lang, $predicted AS predicted_lang,
       |  CAST(($predicted = lang) AS INT) AS is_match,
       |  score_de, score_en, score_es, score_fr, score_zh
       |FROM scored
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q135

  /** q135: language-ID confusion matrix — q28's heuristic GRADED against
    * the labels: per (true lang, predicted lang) cell, the doc count and
    * its share of the true-language row (recall contribution) and of the
    * predicted column (precision contribution), diagonal flagged. This
    * is the evaluation artifact a classifier swap is judged on — q28
    * answers "what does the heuristic say", q135 answers "where does it
    * fail, and is the failure a recall or a precision problem per
    * language" (the routing decision for better markers vs a model).
    *
    * Scale shape: q28's row-local scoring scan feeds ONE
    * partial-aggregated (lang, predicted) groupBy; the row and column
    * totals are window sums over that ≤ langs² cell frame, so it has one
    * consumer and the corpus is scanned once with no cache and no eager
    * barrier. The cells are coalesced to one partition first, which
    * both windows and the final sort accept without another exchange.
    */
  def q135LangIdConfusion(s: SparkSession, dir: String): DataFrame =
    q28LangId(s, dir)
      .groupBy("lang", "predicted_lang").agg(count(lit(1)).as("n_docs"))
      .coalesce(1)
      .withColumn("lang_docs", sum("n_docs").over(Window.partitionBy("lang")))
      .withColumn("pred_docs",
        sum("n_docs").over(Window.partitionBy("predicted_lang")))
      .select(col("lang"), col("predicted_lang"), col("n_docs"),
        col("lang_docs"), col("pred_docs"),
        Num.roundD(col("n_docs").cast("double") / col("lang_docs"), 6)
          .as("share_of_true_r"),
        Num.roundD(col("n_docs").cast("double") / col("pred_docs"), 6)
          .as("share_of_pred_r"),
        (col("lang") === col("predicted_lang")).cast("int").as("is_diag"))
      .orderBy("lang", "predicted_lang")

  val q135Sql: String = {
    val scoreCols = markers.map { case (lang, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(w, x -> x IN ($inList))) AS BIGINT) AS score_$lang"
    }.mkString(",\n       |    ")
    val best = "GREATEST(" + markers.map { case (l, _) => s"score_$l" }.mkString(", ") + ")"
    val predicted = "CASE " + markers.map { case (l, _) =>
      s"WHEN score_$l = $best THEN '$l'"
    }.mkString(" ") + " ELSE 'und' END"
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS w FROM documents),
       |scored AS (
       |  SELECT doc_id, lang,
       |    $scoreCols
       |  FROM t),
       |p AS (
       |  SELECT lang, $predicted AS predicted_lang FROM scored),
       |cm AS (
       |  SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM p GROUP BY 1, 2),
       |rt AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS lang_docs
       |  FROM cm GROUP BY lang),
       |ct AS (SELECT predicted_lang, CAST(SUM(n_docs) AS BIGINT) AS pred_docs
       |  FROM cm GROUP BY predicted_lang)
       |SELECT cm.lang, cm.predicted_lang, n_docs, lang_docs, pred_docs,
       |  ${Num.sqlRoundD("CAST(n_docs AS DOUBLE) / lang_docs", 6)} AS share_of_true_r,
       |  ${Num.sqlRoundD("CAST(n_docs AS DOUBLE) / pred_docs", 6)} AS share_of_pred_r,
       |  CAST(cm.lang = cm.predicted_lang AS INT) AS is_diag
       |FROM cm
       |JOIN rt ON rt.lang = cm.lang
       |JOIN ct ON ct.predicted_lang = cm.predicted_lang
       |ORDER BY cm.lang, cm.predicted_lang""".stripMargin
  }

  /** q29: document fingerprinting — normalized whole-content md5 plus a
    * rolling-shingle min-hash (minimum md5 over all character 8-grams, a
    * winnowing-style content signature robust to block reordering).
    * The 8-gram explosion is linear in corpus bytes and partial-aggregated
    * (per-doc min) map-side.
    */
  def q29Fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("t", lower(trim(col("text"))))
      .withColumn("i", explode(sequence(lit(1), greatest(length(col("t")) - 7, lit(1)))))
      .groupBy(col("doc_id"))
      .agg(
        min(md5(col("t"))).as("content_md5"),
        min(md5(expr("substr(t, i, 8)"))).as("min_shingle_md5"))
      .orderBy("doc_id")

  val q29Sql: String =
    """WITH t AS (
      |  SELECT doc_id, lower(trim(text)) AS t FROM documents),
      |expanded AS (
      |  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i
      |  FROM t)
      |SELECT doc_id, min(md5(t)) AS content_md5,
      |  min(md5(substr(t, i, 8))) AS min_shingle_md5
      |FROM expanded
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** q85: token-surprisal quality scoring — the statistical complement to
    * q27's length/stopword heuristics: each document's unigram
    * cross-entropy against the corpus' OWN unigram distribution, avg over
    * tokens of −ln p(tok) with p = corpus frequency / total tokens. High
    * surprisal marks rare-token-heavy content (OCR noise, gibberish,
    * codes); very low marks boilerplate — the shape of a KenLM-style
    * perplexity filter with the LM replaced by the corpus itself, fully
    * deterministic and cross-engine checkable.
    *
    * Plan: one corpus-wide token groupBy builds the frequency table (the
    * LM aggregation — inherently corpus-wide), then the scoring join
    * BROADCASTS it back onto the token stream, so the exploded
    * (doc_id, token) stream never exchanges (round 7 — the same
    * shuffle-elimination move the LSH signatures got in round 6); the
    * 1-row total broadcasts, and the per-doc aggregate is the only
    * corpus-wide shuffle left. The broadcast side is DF-FLOORED
    * (`cnt >= minDf`, ADVICE r7): on a Zipf-shaped web corpus the
    * below-floor tail dominates the vocabulary, so what actually ships to
    * executors is the megabyte-scale head, not the unbounded hapax mass.
    * The token stream LEFT-joins the floored vocab and coalesces misses to
    * count 1 — i.e. floored tokens saturate at the hapax (maximum)
    * surprisal −ln(1/total), with `total` still the full pre-floor token
    * count. At the default minDf=2 only true hapaxes miss, and −ln(1/total)
    * IS their exact score — so the floor changes the plan, not the answer;
    * at higher floors it becomes a declared quality knob. Per-token
    * surprisal is quantized ([[Num.roundD]] at 6dp) BEFORE the exact
    * average: ln is not IEEE correctly-rounded, so raw libm ulp skew
    * between engines must be rounded away pre-sum.
    */
  def q85TokenSurprisal(s: SparkSession, dir: String, minDf: Int = 2): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), " ")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum("cnt").as("total")) // full total — summed PRE-floor
    val head = freq.filter(col("cnt") >= minDf)
    val perDoc = toks.join(broadcast(head), Seq("tok"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("sp", Num.roundD(
        -log(coalesce(col("cnt"), lit(1L)).cast("double") / col("total").cast("double")), 6))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        Num.avgD(col("sp")).as("avg_surprisal"))
      .persist() // one row per doc; consumed by the stats agg AND the output
    // Tiers are SELF-NORMALIZING — corpus mean ± σ of the per-doc score —
    // so they discriminate at any corpus (absolute nat thresholds are
    // vocabulary-size artifacts). All stats math is exact decimal sums +
    // IEEE-exact ops (÷, ×, sqrt), so both engines compare identical
    // doubles.
    val st = perDoc.agg(
      Num.exactSum(col("avg_surprisal")).cast("double").as("sx"),
      Num.exactSum(col("avg_surprisal") * col("avg_surprisal")).cast("double").as("sxx"),
      count(lit(1)).cast("double").as("n"))
    val mu = col("sx") / col("n")
    val sigma = sqrt(greatest(col("sxx") / col("n") - mu * mu, lit(0.0)))
    perDoc.crossJoin(broadcast(st))
      .withColumn("info_tier",
        when(col("avg_surprisal") > mu + sigma, "rare")
          .when(col("avg_surprisal") < mu - sigma, "common")
          .otherwise("typical"))
      .select("doc_id", "n_tokens", "avg_surprisal", "info_tier")
      .orderBy("doc_id")
  }

  val q85Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
       |  FROM documents),
       |f AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM f),
       |sc AS (
       |  SELECT doc_id,
       |    ${Num.sqlRoundD("-LN(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))", 6)} AS sp
       |  FROM t JOIN f USING (tok) CROSS JOIN tot),
       |perdoc AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens, ${Num.sqlAvg("sp")} AS avg_surprisal
       |  FROM sc GROUP BY doc_id),
       |st AS (
       |  SELECT
       |    CAST(SUM(CAST(avg_surprisal AS DECIMAL(25,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(avg_surprisal * avg_surprisal AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
       |    CAST(COUNT(*) AS DOUBLE) AS n
       |  FROM perdoc)
       |SELECT doc_id, n_tokens, avg_surprisal,
       |  CASE WHEN avg_surprisal > sx / n + SQRT(GREATEST(sxx / n - (sx / n) * (sx / n), 0.0)) THEN 'rare'
       |       WHEN avg_surprisal < sx / n - SQRT(GREATEST(sxx / n - (sx / n) * (sx / n), 0.0)) THEN 'common'
       |       ELSE 'typical' END AS info_tier
       |FROM perdoc CROSS JOIN st ORDER BY doc_id""".stripMargin

  /** Chunk window / stride (tokens). Overlap = Win − Stride = 16 tokens,
    * the usual "carry context across the cut" margin of retrieval
    * pipelines.
    */
  private val ChunkWin = 48
  private val ChunkStride = 32

  /** q108: overlapping token-window chunking — the document→passage
    * step every retrieval/embedding pipeline runs before it can embed:
    * long documents become fixed-width token windows (48 tokens, stride
    * 32) with STABLE ids (doc_id, chunk_idx), so a re-run or an
    * incremental corpus update re-embeds only the chunks whose text
    * changed. Tokens come from the ORIGINAL text (split on ' ', no
    * lowercasing — q94's byte-preservation discipline: a chunk ships to
    * an embedder, so mangling case would change what gets embedded) and
    * the chunk-text md5 is the oracle contract, value-checking the
    * byte-exact window rebuild. Every document yields ≥ 1 chunk (a
    * short doc is its own chunk); every token lands in ≥ 1 window and
    * consecutive windows share Win − Stride tokens by construction.
    *
    * Scale shape: pure row-local scan-speed work — tokenize, compute
    * n_chunks arithmetically, explode a `sequence`, `slice` per chunk.
    * No shuffle, no state, output ~n_tok/stride rows per doc; at 100 TB
    * this runs as one pass at read bandwidth and the (doc_id,
    * chunk_idx) key partitions downstream embedding work evenly.
    */
  /** The chunk stream both q108 and q111 consume: one row per (doc,
    * window) with the byte-exact window md5. Row-local throughout.
    */
  private def chunkFrame(d: DataFrame): DataFrame = {
    val (w, st) = (ChunkWin, ChunkStride)
    d.select(col("doc_id"), split(trim(col("text")), " ").as("toks"))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("n_chunks",
        when(col("n_tok") <= w, lit(1)).otherwise(
          expr(s"CAST(CEIL((n_tok - $w) / $st.0) AS INT) + 1"))) // exact: small-int / power-of-two
      .select(col("doc_id"), col("toks"), col("n_tok"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * st)
      .withColumn("chunk_toks", slice(col("toks"), col("start_tok") + 1, lit(w)))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("chunk_toks")).as("n_chunk_tokens"),
        md5(array_join(col("chunk_toks"), " ")).as("chunk_md5"))
  }

  def q108ChunkWindows(s: SparkSession, dir: String): DataFrame =
    chunkFrame(docs(s, dir)).orderBy("doc_id", "chunk_idx")

  val q108Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS toks,
       |    len(string_split(trim(text), ' ')) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, toks, n_tok,
       |    CASE WHEN n_tok <= $ChunkWin THEN 1
       |         ELSE CAST(CEIL((n_tok - $ChunkWin) / $ChunkStride.0) AS INT) + 1 END AS n_chunks
       |  FROM t),
       |x AS (
       |  SELECT doc_id, toks, n_tok,
       |    CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx
       |  FROM c)
       |SELECT doc_id, chunk_idx,
       |  chunk_idx * $ChunkStride AS start_tok,
       |  LEAST($ChunkWin, n_tok - chunk_idx * $ChunkStride) AS n_chunk_tokens,
       |  md5(array_to_string(toks[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkWin], ' ')) AS chunk_md5
       |FROM x
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** q111: duplicate-PASSAGE accounting at the chunk grain — the
    * boilerplate detector q108's windows make cheap: a chunk whose
    * 48-token window recurs in ≥ 2 distinct documents is a duplicated
    * passage (fixed windows, vs q93's maximal spans — coarser but one
    * shuffle instead of a positional gram join), and each document
    * reports how much of it is made of such passages. The per-doc
    * duplicated fraction is the passage-grain twin of q66's Gopher
    * repetition rules: high-fraction docs are templated/boilerplate
    * candidates for the Curate quality gates.
    *
    * Scale shape: the chunk stream is row-local (q108); one posting-list
    * shuffle on chunk_md5 (partial-aggregated distinct-doc count), the
    * df table joins back on the SAME key (the aggregation's partitioning
    * is reused — no broadcast needed, so the duplicated set may grow
    * with the corpus), then one per-doc aggregate. The q21/q85 posting
    * discipline at the passage grain.
    */
  def q111DupPassages(s: SparkSession, dir: String): DataFrame = {
    val chunks = chunkFrame(docs(s, dir)).select("doc_id", "chunk_md5")
    val df = chunks.groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).as("nd"))
    chunks.join(df, Seq("chunk_md5"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_fraction", Num.roundD(
        col("n_dup_chunks").cast("double") / col("n_chunks").cast("double")))
      .select("doc_id", "n_chunks", "n_dup_chunks", "dup_fraction")
      .orderBy("doc_id")
  }

  val q111Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS toks,
       |    len(string_split(trim(text), ' ')) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, toks, n_tok,
       |    CASE WHEN n_tok <= $ChunkWin THEN 1
       |         ELSE CAST(CEIL((n_tok - $ChunkWin) / $ChunkStride.0) AS INT) + 1 END AS n_chunks
       |  FROM t),
       |x AS (
       |  SELECT doc_id, toks,
       |    CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx
       |  FROM c),
       |chunks AS (
       |  SELECT doc_id,
       |    md5(array_to_string(toks[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkWin], ' ')) AS chunk_md5
       |  FROM x),
       |df AS (
       |  SELECT chunk_md5, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1)
       |SELECT k.doc_id, COUNT(*) AS n_chunks,
       |  CAST(SUM(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       |  ${Num.sqlRoundD("CAST(SUM(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS dup_fraction
       |FROM chunks k JOIN df f USING (chunk_md5)
       |GROUP BY k.doc_id
       |ORDER BY k.doc_id""".stripMargin

  // --------------------------------------------------------------- q118

  /** q118: smoothed bigram-LM scoring — q85's unigram surprisal
    * upgraded to the shape CCNet/FineWeb actually filter with (a KenLM
    * n-gram model): each document's cross-entropy under a bigram model
    * of the corpus itself, per-bigram
    * p(b|a) = c(a,b)/(c(a)+k) + (k/(c(a)+k))·c(b)/T with k = 5 —
    * Jelinek-Mercer interpolation with the COUNT-CONDITIONED mixing
    * weight λ(a) = c(a)/(c(a)+k) (Witten-Bell's shape with a constant
    * in place of the successor count; the two summands above are that
    * interpolation algebraically simplified). The count conditioning
    * is load-bearing, not a nicety: a fixed-λ model scores a document
    * of pure hapaxes as PERFECTLY predictable (c(a,b) = c(a) = 1 ⇒
    * ML conditional 1 — the corpus-as-model overfit, hit live by the
    * spec's gibberish fixture), where λ(a) = 1/(1+k) correctly says a
    * once-seen context predicts nothing. Output: avg −ln p, perplexity,
    * and the self-normalizing corpus-relative tier (gibberish reads
    * implausible; over-templated text reads boilerplate — the two
    * tails a perplexity filter cuts).
    *
    * Plan shape: bigrams are a row-local transform on the token array
    * (no self-join, no window); the unigram and bigram models are the
    * two corpus-wide model aggregations, both DF-FLOORED before the
    * broadcast back onto the stream (q85's move: at minDf = 2 every
    * missing count is exactly 1 — observed n-grams have count ≥ 1 by
    * construction — so coalescing misses to 1 changes the plan, not
    * the answer, and what ships to executors is the Zipf head, not the
    * hapax mass). The per-doc aggregate is the only corpus-wide
    * shuffle after the models. 100 TB note on the BIGRAM head: its
    * floored type count is far larger than the unigram head's, so at
    * corpus scale `minDf` is the load-bearing knob — the floor cuts
    * bigram types much faster than unigram types (the pair tail is
    * heavier), and past the point where the head still won't broadcast,
    * dropping the hint turns the same plan into a co-partitioned hash
    * join with no semantic change. Every arithmetic step is written with
    * identical association in both engines (IEEE ÷, ×, + on identical
    * inputs), and the −ln is quantized at 6dp before the exact decimal
    * average, q85's libm rule.
    */
  /** @param minDf model-head document-frequency floor. MUST be ≤ 2
    *   (ADVICE r10): the plan coalesces a floored-away count to 1, which
    *   is EXACT only when the floor cuts counts that are exactly 1 —
    *   at minDf > 2 a floored count could be anywhere in [1, minDf-1]
    *   and the score would silently diverge from the true interpolated
    *   model. Raising the floor at corpus scale therefore requires
    *   carrying a (count-below-floor) marker, not just this knob.
    */
  /** The per-doc interpolated bigram-LM mean NLL — q118's model
    * arithmetic factored out so the perplexity curriculum (q136) scores
    * with the EXACT model the quality tiering uses. `d` is (keys…, `w`
    * token-array); returns one row per `keys` grain with `n_bigrams` +
    * `avg_nll` (6dp, cross-engine-pinned). Docs with < 2 tokens have no
    * bigram and drop — the score is undefined for them. Same minDf ≤ 2
    * contract as q118 (the coalesce-missing-to-1 simplification).
    */
  private[graft] def bigramAvgNll(d: DataFrame, keys: Seq[String],
                                  minDf: Int = 2): DataFrame = {
    require(minDf <= 2,
      s"bigramAvgNll: minDf=$minDf > 2 — the coalesce-missing-to-1 " +
        "simplification is exact only when every floored count is exactly " +
        "1 (minDf ≤ 2); a higher floor needs explicit below-floor counts")
    val toks = d.select(explode(col("w")).as("tok"))
    val uniF = toks.groupBy("tok").agg(count(lit(1)).as("ucnt"))
    val tot = uniF.agg(sum("ucnt").as("total"))
    val uniHead = uniF.filter(col("ucnt") >= minDf)
    val bg = d.filter(size(col("w")) >= 2)
      .withColumn("i", explode(sequence(lit(1), size(col("w")) - 1)))
      .select(keys.map(col) :+
        element_at(col("w"), col("i")).as("a") :+
        element_at(col("w"), col("i") + 1).as("b"): _*)
    val bgHead = bg.groupBy("a", "b").agg(count(lit(1)).as("bcnt"))
      .filter(col("bcnt") >= minDf)
    bg
      .join(broadcast(bgHead), Seq("a", "b"), "left")
      .join(broadcast(uniHead.select(col("tok").as("a"), col("ucnt").as("acnt"))),
        Seq("a"), "left")
      .join(broadcast(uniHead.select(col("tok").as("b"), col("ucnt").as("bucnt"))),
        Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("p",
        coalesce(col("bcnt"), lit(1L)).cast("double") /
          (coalesce(col("acnt"), lit(1L)).cast("double") + lit(5.0)) +
        (lit(5.0) / (coalesce(col("acnt"), lit(1L)).cast("double") + lit(5.0))) *
          (coalesce(col("bucnt"), lit(1L)).cast("double") /
            col("total").cast("double")))
      .withColumn("nll", Num.roundD(-log(col("p")), 6))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_bigrams"),
        Num.avgD(col("nll"), 6).as("avg_nll"))
  }

  def q118BigramLm(s: SparkSession, dir: String, minDf: Int = 2): DataFrame = {
    // CPU-spread tried and REVERTED (round 18 A/B: 0.83 s → 1.05 s
    // min-of-3) — the bigram pass's cost is the unigram/bigram groupBys,
    // not the row-local fold, so the extra exchange only added latency
    val d = docs(s, dir)
      .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("w"))
    // pinned EAGERLY (round 17, was lazy): the corpus-stats aggregate
    // feeds a broadcast build that races the final projection's stages
    // on a cold cache — each re-ran the bigram-LM pass (the q98/q137
    // shape)
    val perDoc = bigramAvgNll(d, Seq("doc_id"), minDf)
      .localCheckpoint(true)
    val st = perDoc.agg(
      Num.exactSum(col("avg_nll")).cast("double").as("sx"),
      Num.exactSum(col("avg_nll") * col("avg_nll")).cast("double").as("sxx"),
      count(lit(1)).cast("double").as("n"))
    val mu = col("sx") / col("n")
    val sigma = sqrt(greatest(col("sxx") / col("n") - mu * mu, lit(0.0)))
    perDoc.crossJoin(broadcast(st))
      .withColumn("ppl", Num.roundD(exp(col("avg_nll")), 4))
      .withColumn("lm_tier",
        when(col("avg_nll") > mu + sigma, "implausible")
          .when(col("avg_nll") < mu - sigma, "boilerplate")
          .otherwise("typical"))
      .select("doc_id", "n_bigrams", "avg_nll", "ppl", "lm_tier")
      .orderBy("doc_id")
  }

  val q118Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
       |  FROM documents),
       |t AS (SELECT doc_id, unnest(w) AS tok FROM d),
       |f AS (SELECT tok, COUNT(*) AS ucnt FROM t GROUP BY tok),
       |tot AS (SELECT CAST(SUM(ucnt) AS BIGINT) AS total FROM f),
       |bgs AS (
       |  SELECT doc_id, w[i] AS a, w[i + 1] AS b FROM (
       |    SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
       |    FROM d WHERE len(w) >= 2) z),
       |bf AS (SELECT a, b, COUNT(*) AS bcnt FROM bgs GROUP BY a, b),
       |sc AS (
       |  SELECT doc_id,
       |    ${Num.sqlRoundD(
            "-LN(CAST(bcnt AS DOUBLE) / (CAST(fa.ucnt AS DOUBLE) + 5.0) + " +
            "(5.0 / (CAST(fa.ucnt AS DOUBLE) + 5.0)) * " +
            "(CAST(fb.ucnt AS DOUBLE) / CAST(total AS DOUBLE)))", 6)} AS nll
       |  FROM bgs
       |  JOIN bf USING (a, b)
       |  JOIN f fa ON fa.tok = bgs.a
       |  JOIN f fb ON fb.tok = bgs.b
       |  CROSS JOIN tot),
       |perdoc AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    ${Num.sqlAvg("nll", 6)} AS avg_nll
       |  FROM sc GROUP BY doc_id),
       |st AS (
       |  SELECT
       |    CAST(SUM(CAST(avg_nll AS DECIMAL(25,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(avg_nll * avg_nll AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
       |    CAST(COUNT(*) AS DOUBLE) AS n
       |  FROM perdoc)
       |SELECT doc_id, n_bigrams, avg_nll,
       |  ${Num.sqlRoundD("EXP(avg_nll)", 4)} AS ppl,
       |  CASE WHEN avg_nll > sx / n + SQRT(GREATEST(sxx / n - (sx / n) * (sx / n), 0.0)) THEN 'implausible'
       |       WHEN avg_nll < sx / n - SQRT(GREATEST(sxx / n - (sx / n) * (sx / n), 0.0)) THEN 'boilerplate'
       |       ELSE 'typical' END AS lm_tier
       |FROM perdoc CROSS JOIN st ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q145

  /** The default keyword taxonomy for [[tagTopics]]/[[q145TopicMixture]]:
    * topic → keywords, grounded in the synthetic corpus vocabulary the
    * way a production taxonomy is grounded in its domain's jargon.
    */
  val DefaultTaxonomy: Seq[(String, String)] = Seq(
    "storage" -> "table", "storage" -> "row", "storage" -> "column",
    "storage" -> "part", "storage" -> "key",
    "execution" -> "scan", "execution" -> "filter", "execution" -> "sort",
    "execution" -> "merge", "execution" -> "hash",
    "streaming" -> "stream", "streaming" -> "batch", "streaming" -> "window",
    "relational" -> "join", "relational" -> "agg", "relational" -> "group",
    "relational" -> "query", "relational" -> "order")

  /** Keyword-taxonomy topic tagging — the domain-labeling stage of
    * mixture construction: every document gets the topic whose keywords
    * it mentions most (hit-count ties break on the topic name; zero
    * hits → `untagged`). The taxonomy is a broadcast frame (a taxonomy
    * is curated by hand — it is small by construction), so tagging is
    * one token explode + broadcast equi-join + per-doc argmax: nothing
    * corpus-sized shuffles except the (doc, topic) hit aggregate, which
    * the keyword join has already cut to matching tokens. Returns one
    * row per input document: (doc_id, lang, n_tokens, topic, hits).
    */
  def tagTopics(s: SparkSession, d: DataFrame,
      taxonomy: Seq[(String, String)] = DefaultTaxonomy): DataFrame = {
    import s.implicits._
    val tax = taxonomy.toDF("topic", "term")
    val base = d.select(col("doc_id"), col("lang"),
      size(filter(toks, t => length(t) > 0)).as("n_tokens"))
    val hits = d
      .select(col("doc_id"), explode(toks).as("term"))
      .filter(length(col("term")) > 0)
      .join(broadcast(tax), "term")
      .groupBy("doc_id", "topic")
      .agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy("doc_id").orderBy(col("hits").desc, col("topic"))
    val best = hits.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
    base.join(best.select("doc_id", "topic", "hits"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        coalesce(col("topic"), lit("untagged")).as("topic"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** q145: topic-mixture report — [[tagTopics]] rolled up to the
    * (topic, lang) grain a mixture designer allocates over: document
    * and token counts plus each cell's share of the corpus token
    * budget. The per-doc tag frame is the production seam (it feeds the
    * same mixture machinery as `lang`/`source` do in q49/q100); this
    * query is its corpus-level artifact. Shares are exact-integer
    * divisions, engine-portable.
    */
  def q145TopicMixture(s: SparkSession, dir: String): DataFrame = {
    val tagged = tagTopics(s, docs(s, dir))
    val tot = tagged.agg(sum("n_tokens").cast("double").as("tot_tokens"))
    tagged.groupBy("topic", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("hits").as("n_keyword_hits"))
      .crossJoin(broadcast(tot))
      .withColumn("token_share",
        Num.roundD(col("n_tokens").cast("double") / col("tot_tokens"), 6))
      .select("topic", "lang", "n_docs", "n_tokens", "n_keyword_hits",
        "token_share")
      .orderBy("topic", "lang")
  }

  val q145Sql: String = {
    val tax = DefaultTaxonomy
      .map { case (topic, term) => s"('$topic', '$term')" }.mkString(", ")
    s"""WITH tax(topic, term) AS (VALUES $tax),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
       |  FROM documents),
       |t AS (SELECT doc_id, term FROM toks WHERE len(term) > 0),
       |base AS (
       |  SELECT doc_id, lang,
       |    len(list_filter(string_split(lower(trim(text)), ' '),
       |      x -> len(x) > 0)) AS n_tokens
       |  FROM documents),
       |hits AS (
       |  SELECT doc_id, topic, COUNT(*) AS hits
       |  FROM t JOIN tax USING (term) GROUP BY 1, 2),
       |best AS (
       |  SELECT doc_id, topic, hits,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY hits DESC, topic) AS rk
       |  FROM hits),
       |tagged AS (
       |  SELECT base.doc_id, base.lang, base.n_tokens,
       |    COALESCE(b.topic, 'untagged') AS topic,
       |    COALESCE(b.hits, 0) AS hits
       |  FROM base LEFT JOIN (SELECT doc_id, topic, hits FROM best WHERE rk = 1) b
       |    ON b.doc_id = base.doc_id),
       |tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot_tokens FROM tagged)
       |SELECT topic, lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(hits) AS BIGINT) AS n_keyword_hits,
       |  ${Num.sqlRoundD("CAST(SUM(n_tokens) AS DOUBLE) / ANY_VALUE(tot_tokens)", 6)} AS token_share
       |FROM tagged CROSS JOIN tot
       |GROUP BY topic, lang
       |ORDER BY topic, lang""".stripMargin
  }
}
