package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Library-facing text-analysis column functions (all codegen'd built-ins,
  * no UDFs): tokenization, marker scoring, language ID, quality scoring,
  * regex token counts, fingerprinting. `graft.queries.TextQueries` wraps
  * these for the driver surface. */
object TextAnalysis {

  val enMarkers: Seq[String] = Seq("the", "and", "is", "of")
  val esMarkers: Seq[String] = Seq("el", "la", "de", "que")
  val frMarkers: Seq[String] = Seq("le", "les", "et", "des")
  val deMarkers: Seq[String] = Seq("der", "die", "und", "ist")
  val stopwords: Seq[String] = Seq("the", "and", "is", "of", "to", "a", "in")

  def tokens(text: Column): Column = split(lower(text), " ")

  /** The UNROUNDED composite quality score: 0.3*stopword ratio +
    * 0.3*size saturation + 0.4*length shape, clamped to 1. ONE definition
    * for every consumer — text_quality's round-4 display form, the soft
    * sampler, the corpus report, the batch C4 filter chain's and the
    * streaming quality gate's x1e4 integer-scaled threshold forms — so a
    * weight tweak can never fork the batch and streaming verdicts, whose
    * equality StreamingSpec pins. Callers apply their own rounding. */
  def qualityScoreRaw(text: Column): Column = {
    val t = tokens(text)
    val nTokD = size(t).cast("double")
    val stopRatio = size(filter(t, x => x.isInCollection(stopwords))) / nTokD
    val avgLen = length(regexp_replace(text, " ", "")) / nTokD
    val lenShape = lit(1.0) - least(abs(avgLen - 5.0) / 5.0, lit(1.0))
    val sizeSat = least(nTokD / 100.0, lit(1.0))
    least(lit(0.3) * stopRatio + lit(0.3) * sizeSat + lit(0.4) * lenShape,
      lit(1.0))
  }

  /** How many tokens fall in the marker list (with multiplicity). */
  def markerScore(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(markers)))

  /** C4-style blocklist filter (the "bad words" stage of Raffel et al.
    * 2020's C4 pipeline: any page containing a term from the blocklist is
    * removed; deployments use the per-language LDNOOBW-style lists): a
    * document is flagged when any blocked TOKEN occurs (word-boundary
    * exact, multiplicity reported) or any blocked multi-word PHRASE
    * appears as a substring of the lowercased text. Both lists ride in
    * the plan as literals (real lists are a few hundred terms — far under
    * literal limits), so the filter is a stateless projection: it pushes
    * to the scan, stays in whole-stage codegen, and shuffles nothing at
    * any corpus size. Output: (id, token_hits, phrase_hits, keep). */
  def blocklistSignals(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, blockedTokens: Seq[String],
      blockedPhrases: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(blockedTokens.nonEmpty || blockedPhrases.nonEmpty,
      "blocklist must contain at least one token or phrase")
    val tokenHits = blocklistTokenHits(col(textCol), blockedTokens)
    val phraseHits = blocklistPhraseHits(col(textCol), blockedPhrases)
    df.select(col(idCol), tokenHits.as("token_hits"),
      phraseHits.as("phrase_hits"),
      (tokenHits === 0 && phraseHits === 0).as("keep"))
  }

  /** Blocked-token occurrence count (word-boundary exact, multiplicity) —
    * the ONE definition both the batch report and the streaming ingest
    * gate derive their verdicts from. The match runs over lowercased
    * document tokens, so the caller's list is lowercased too — a
    * real-world blocklist file with capitalized entries must still fire
    * (a verbatim comparison would silently never match them). */
  def blocklistTokenHits(text: Column, blockedTokens: Seq[String]): Column =
    (if (blockedTokens.isEmpty) lit(0)
     else markerScore(text, blockedTokens.map(_.toLowerCase))).cast("long")

  /** Number of blocked phrases appearing as substrings of the lowercased
    * text (0/1 per phrase; phrases lowercased to match — see
    * [[blocklistTokenHits]]). Shared by batch and streaming verdicts. */
  def blocklistPhraseHits(text: Column, blockedPhrases: Seq[String]): Column =
    blockedPhrases
      .map(p => when(lower(text).contains(p.toLowerCase), lit(1L)).otherwise(lit(0L)))
      .foldLeft(lit(0L))(_ + _)

  /** All character n-grams of the lowercased text, in order (the
    * fastText-lid feature space): positions 1..len-n+1, each a substr of
    * width n — a pure per-row projection (stateless, codegen'd, pushes
    * nothing to a shuffle). Texts shorter than n yield an EMPTY array
    * (DuckDB's `[substring(lower(t), i, n) for i in
    * range(1, len(lower(t)) - n + 2)]` handles short texts the same way
    * via the empty range; positions run over the LOWERCASED length on
    * both sides). Delegates to
    * the native [[graft.functions.CharNgrams]] kernel: the composable
    * `transform(sequence(...), i -> substr(lower(t), i, n))` evaluates
    * an interpreted lambda that re-lowercases the whole text per
    * position — O(len²) per document and outside codegen. */
  def charNgrams(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.CharNgrams(
        org.apache.spark.sql.graft.bridge.expression(text), n))

  /** Priority-argmax language ID over the marker scores (en>es>fr>de>und). */
  def langId(text: Column): Column = {
    val (en, es, fr, de) = (markerScore(text, enMarkers), markerScore(text, esMarkers),
      markerScore(text, frMarkers), markerScore(text, deMarkers))
    when(en > 0 && en >= es && en >= fr && en >= de, "en")
      .when(es > 0 && es >= fr && es >= de, "es")
      .when(fr > 0 && fr >= de, "fr")
      .when(de > 0, "de")
      .otherwise("und")
  }

  /** md5 of whitespace-normalized lowercase content. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Sliding-window document chunking (the step before embedding in a
    * retrieval/RAG pipeline): fixed `size`-char windows advancing by
    * `size - overlap`, so consecutive chunks share `overlap` chars of
    * context. One `explode(sequence(...))` per document — row-per-chunk
    * with no UDF and no driver involvement; a document's chunk count is
    * `ceil(max(len - overlap, 1) / step)`, so short documents yield
    * exactly one chunk. Returns (idCol, chunk_idx, chunk, n_chunks).
    */
  def chunkDocuments(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, size: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val step = size - overlap
    val nChunks = ceil(greatest(length(col(textCol)) - overlap, lit(1))
      .cast("double") / step).cast("long")
    df.select(col(idCol), col(textCol).as("__text"), nChunks.as("n_chunks"))
      .select(col(idCol), col("n_chunks"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"),
        col("__text"))
      .select(col(idCol), col("chunk_idx"),
        col("__text").substr((lit(1L) + col("chunk_idx") * step).cast("int"),
          lit(size)).as("chunk"),
        col("n_chunks"))
  }

  /** Corpus-trained bigram language model as a quality/novelty signal —
    * the CCNet-style perplexity filter re-expressed in RATIONAL arithmetic
    * (no log/exp) so cross-engine oracles reproduce it bit-for-bit.
    *
    * "Training" counts bigrams over the whole input (per-doc counts first,
    * map-side combinable), then each document is scored by
    *
    *   pred_prob  = Σ_bg k·(c12+1)/(c1+V) / Σ_bg k   (add-one smoothing)
    *   novel_rate = fraction of its DISTINCT bigrams found in no other doc
    *
    * where c12 = corpus count of the bigram, c1 = corpus count of its
    * context word as a bigram-start, V = vocabulary size. Low pred_prob =
    * surprising/garbled text; novel_rate near 0 = boilerplate.
    *
    * Scale shape: two key-partitioned aggregations + two co-partitioned
    * shuffle joins on the bigram/context keys and a 1-row broadcast (V);
    * no windows, no driver-side state. Docs with fewer than two tokens
    * yield no bigrams and are absent from the output.
    *
    * SCALE CAVEAT — hot-bigram skew: because this one-call form derives
    * the model FROM the same docBg aggregate it joins back to, Catalyst
    * fuses the model aggregation's final step into the join's own stage
    * (one hash(bg) exchange serves both), and AQE's OptimizeSkewedJoin —
    * which only matches a Sort directly over a shuffle stage — can NEVER
    * split the hot "of the"-style partitions of this join, at any
    * threshold (pinned in SkewStressSpec). Corpus-scale scoring should
    * use the TRAIN/SERVE split in [[BigramLm]]: with the model read from
    * storage the join matches the skew pattern and the hot partitions
    * split (also pinned there). */
  def bigramLm(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val t = tokens(col(textCol))
    val occ = df.select(col(idCol),
      explode(zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
    val docBg = occ.groupBy(idCol, "bg").agg(count(lit(1)).as("k"))
    val model = docBg.groupBy("bg")
      .agg(sum("k").as("c12"), count(lit(1)).as("df"))
    val ctx = docBg
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum("k").as("c1"))
    val vocab = df.select(explode(t).as("w"))
      .groupBy("w").agg(count(lit(1)))
      .agg(count(lit(1)).as("v"))
    // DuckDB-compatible rounding: round the scaled double, then unscale
    def round6(c: Column): Column = round(c * 1e6, 0) / 1e6
    val p = (col("c12").cast("double") + 1.0) / (col("c1") + col("v"))
    docBg.withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(model, "bg").join(ctx, "w1").crossJoin(broadcast(vocab))
      .groupBy(idCol)
      .agg(sum("k").as("n_bigrams"),
        round6(sum(col("k").cast("double") * p) / sum("k")).as("pred_prob"),
        round6(avg(when(col("df") === 1, 1.0).otherwise(0.0))).as("novel_rate"))
  }

  /** Per-stratum lexical-diversity report — the corpus-composition
    * dashboard (type/token ratio, Simpson repeat-rate, unigram Shannon
    * entropy) a curation run reads before setting mixture weights: a
    * stratum whose entropy collapses between snapshots is being flooded
    * by templated text.
    *
    * Determinism: TTR and the Simpson index are pure integer arithmetic
    * until one final division (Simpson = Σ c·(c−1) / (N·(N−1)), the
    * repeat-probability form — exact counts, no floats). Entropy needs
    * ln, the one transcendental, so every ln is QUANTIZED to integer
    * micro-nats the instant it is computed — q(c) = round(ln(c)·1e6),
    * the TrigramLm p14 discipline — and H = (q(N)·N − Σ c·q(c)) /
    * (N·1e6): the Σ is an exact integer aggregate (associative,
    * order-free, map-side combined — no ordered-fold machinery, no
    * per-stratum collect), and the only float steps are the per-VALUE
    * ln-then-round (a 1-ulp libm divergence cannot cross a 0.5
    * micro-nat boundary except on adversarially tuned inputs — and c is
    * an integer count, so the boundary set is fixed, not
    * data-continuous) and the single final division of exact integers.
    *
    * Scale shape: one tokenize scan into a (stratum, term) count
    * aggregation, then ONE plain aggregate per stratum — every sum
    * (integer pair counts, decimal micro-nat mass) combines map-side;
    * nothing is collected, folded in order, or bounded by vocabulary.
    *
    * Returns (`strataCol`, n_docs, n_tokens, n_types, ttr6, simpson6,
    * entropy6), one row per non-null stratum. */
  def diversityReport(df: org.apache.spark.sql.DataFrame, strataCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val base = df.filter(col(strataCol).isNotNull)
    val cnt = base
      .select(col(strataCol).as("stratum"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy("stratum", "term").agg(count(lit(1)).as("c"))
    // micro-nats per term occurrence class: q(c) = round(ln(c)·1e6); the
    // c·q(c) product and its sum are exact decimal(38,0) integers (long
    // would overflow near 2^63/3e7 ≈ 3e11 tokens — the TrigramLm escape)
    val q = round(log(col("c").cast("double")) * 1e6, 0).cast("decimal(38,0)")
    val folded = cnt.groupBy("stratum").agg(
      sum("c").cast("long").as("n_tokens"),
      count(lit(1)).cast("long").as("n_types"),
      sum(col("c") * (col("c") - lit(1L))).cast("long").as("pairsum"),
      sum(col("c").cast("decimal(38,0)") * q).as("s_micro"))
    val nDocs = base.groupBy(col(strataCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"))
    val nTok = col("n_tokens").cast("double")
    val qN = round(log(nTok) * 1e6, 0).cast("decimal(38,0)")
    nDocs.join(folded, "stratum")
      .select(col("stratum").as(strataCol), col("n_docs"),
        col("n_tokens"), col("n_types"),
        round6(col("n_types") / nTok).as("ttr6"),
        when(col("n_tokens") > 1,
            round6(col("pairsum") / (nTok * (nTok - 1.0))))
          .otherwise(lit(0.0)).as("simpson6"),
        round6((qN * col("n_tokens").cast("decimal(38,0)") - col("s_micro"))
          .cast("double") / (nTok * 1e6)).as("entropy6"))
      .orderBy(strataCol)
  }

  /** BM25 keyword retrieval: score every document against a bag of query
    * terms — the seed-retrieval primitive a curation pipeline uses to pull
    * topic-relevant documents out of a crawl (phi-style seeded quality
    * filtering, eval-set neighborhood mining).
    *
    * The idf weight is the Robertson–Spärck Jones odds WITHOUT the log:
    * (N - df + 0.5) / (df + 0.5). It is strictly monotone in df exactly
    * like the log form (the ranking-relevant property) and keeps the score
    * in rational arithmetic, so the result is bit-stable across engines
    * and fully hash-checkable — the same discipline as [[bigramLm]]'s
    * expected-probability score (no transcendentals in checked outputs).
    *
    * Scale shape: the query-term set is a literal `isin` filter applied at
    * the posting explode, so only matching postings ever shuffle (at 100 TB
    * the non-matching ~99% of tokens die in the scan stage); per-(doc,term)
    * tf and per-term df are two key-partitioned aggregations over that
    * filtered stream; doc length is a separate full-pass aggregate joined
    * back on the doc key; N and avgdl are a 1-row broadcast. Nothing
    * corpus-sized is broadcast or collected. Returns one row per document
    * matching at least one term: (id, matched_terms, bm25). */
  def bm25Rank(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1 > 0 and 0 <= b <= 1, got k1=$k1 b=$b")
    // tokens are lowercased, so the query is too (the blocklist rule: a
    // capitalized term must match, not silently return nothing)
    val terms = queryTerms.map(_.toLowerCase)
    val t = tokens(col(textCol))
    val dl = df.select(col(idCol), size(t).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val tf = df.select(col(idCol), explode(t).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term").join(dl, idCol).crossJoin(broadcast(stats))
      .groupBy(idCol)
      .agg(count(lit(1)).as("matched_terms"),
        bm25Round6(sum(bm25TermScore(col("n_docs"), col("df"), col("tf"),
          col("dl"), col("avgdl"), k1, b))).as("bm25"))
  }

  /** The per-(doc, term) BM25 contribution — idf odds x normalized tf —
    * as ONE expression shared by the fused [[bm25Rank]] and the
    * index-served [[InvertedIndex.serve]], so the two paths' bit-parity
    * contract is structural, not a manually synchronized copy. */
  private[operators] def bm25TermScore(nDocs: Column, df: Column,
      tf: Column, dl: Column, avgdl: Column, k1: Double, b: Double): Column =
    ((nDocs - df + 0.5) / (df + 0.5)) *
      (tf * (k1 + 1.0) / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / avgdl)))

  /** DuckDB-compatible scaled rounding (HALF_UP on the exact scaled
    * double) — the ONE round-to-6 definition for every engine-side score
    * that a threshold verdict or an oracle compare depends on. Spark's
    * `round(x, 6)` and this scaled form can differ by 1 ulp at a
    * boundary value, which is enough to flip a `>= threshold` verdict
    * between two paths that must agree (batch report vs streaming gate),
    * so both sides of any such pair must call THIS helper. */
  private[graft] def round6(c: Column): Column = round(c * 1e6, 0) / 1e6

  /** DuckDB-compatible scaled rounding shared by both BM25 paths. */
  private[operators] def bm25Round6(c: Column): Column = round6(c)

  /** The eight Gopher "stop words" (Rae et al. 2021, appendix A1.1):
    * a document must contain at least two of them to pass rule 7. */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher quality-filter signals (Rae et al., "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", 2021, appendix
    * A1.1) — the repetition + heuristic rule set MassiveWeb applies per
    * document, emitted as INTEGER-scaled fractions (x1e6, one correctly-
    * rounded division of exact integers each) so every threshold boolean
    * is bit-exact across engines, plus the composed `keep` verdict.
    *
    * Signals and thresholds (keep iff ALL hold):
    *  - word count in [minWords, maxWords] (paper: 50..100,000)
    *  - mean word length in [3, 10] chars
    *  - symbol-to-word ratio ("#", "...", or an ellipsis char) <= 0.1
    *  - < 90% of lines starting with a bullet ("•", "-", "*")
    *  - < 30% of lines ending with an ellipsis
    *  - >= 80% of words containing at least one alphabetic character
    *  - >= 2 distinct `stops` words present ([[gopherStops]] by default —
    *    parameterized because the rule targets common function words,
    *    which vary by corpus/language)
    *  - duplicate-line fraction <= 0.30; duplicate-line CHAR fraction
    *    <= 0.20 (within-document, on `delim`-split lines)
    *  - top {2,3,4}-gram char fraction <= {0.20, 0.18, 0.16}
    *  - duplicated {5..10}-gram char fraction <= {0.15 .. 0.10}
    *
    * Documented variant choices (each deterministic and applied
    * identically in the driver oracle): tokens split on runs of
    * whitespace; a gram's char length is its joined-string length and
    * fractions are relative to length(text); the top-n-gram numerator is
    * max over grams of count*len (tie-free, vs. "chars of the single most
    * frequent gram" which needs a tie-break); the duplicated-n-gram
    * numerator sums count*len over grams with count >= 2 (the map-side-
    * combinable form — positional character coverage would need a second
    * per-position pass, and the sum only over-counts overlaps, so it is
    * the CONSERVATIVE direction for a drop-if-above filter).
    *
    * Scale shape: every line/word signal is a per-row higher-order
    * expression in one corpus scan — no shuffle, stateless, so the whole
    * non-gram tier is streaming-legal. The gram tier is ONE explode
    * (all n in [2,10] fused into a single generator, md5 gram keys so
    * 16-byte hashes shuffle rather than gram text) into a (doc, n, key)
    * aggregate and a (doc, n) reduce joined back on the doc key —
    * doc-keyed, AQE-splittable, nothing corpus-sized broadcast. */
  def gopherSignals(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, delim: String = "\n", minWords: Int = 50,
      maxWords: Int = 100000,
      stops: Seq[String] = gopherStops): org.apache.spark.sql.DataFrame = {
    require(stops.nonEmpty, "need a non-empty stop-word list")
    val toks = split(lower(col(textCol)), "\\s+")
    val nWords = size(toks)
    val textLen = length(col(textCol))
    def frac6(num: Column, den: Column): Column =
      round(num * lit(1e6) / den, 0).cast("long")
    val wordChars = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val alphaWords = size(filter(toks, t => t.rlike("[a-z]")))
    val stopHits = size(array_intersect(array_distinct(toks),
      array(stops.map(lit): _*)))
    val symbols = size(regexp_extract_all(col(textCol),
      lit("#|\\.\\.\\.|…"), lit(0)))
    val lines = split(col(textCol), java.util.regex.Pattern.quote(delim))
    val nLines = size(lines)
    val bulletLines = size(filter(lines, l =>
      l.startsWith("•") || l.startsWith("-") || l.startsWith("*")))
    val ellipsisLines = size(filter(lines, l =>
      l.endsWith("…") || l.endsWith("...")))
    val lineChars = aggregate(lines, lit(0L), (acc, l) => acc + length(l))
    val distinctLineChars = aggregate(array_distinct(lines), lit(0L),
      (acc, l) => acc + length(l))
    val perRow = df.select(col(idCol).cast("long").as("doc_id"),
      nWords.cast("long").as("n_words"),
      frac6(wordChars, nWords).as("mean_word_chars6"),
      frac6(alphaWords, nWords).as("alpha_word_frac6"),
      stopHits.cast("long").as("stop_hits"),
      frac6(symbols, nWords).as("symbol_frac6"),
      frac6(bulletLines, nLines).as("bullet_line_frac6"),
      frac6(ellipsisLines, nLines).as("ellipsis_line_frac6"),
      frac6(nLines - size(array_distinct(lines)), nLines).as("dup_line_frac6"),
      frac6(lineChars - distinctLineChars, greatest(lineChars, lit(1L)))
        .as("dup_line_char_frac6"),
      textLen.cast("long").as("text_chars"))
    // one generator for every n in [2,10]: (n, md5(gram), len(gram));
    // short docs contribute nothing for the ns they cannot fill
    val gramsAll = flatten(transform(sequence(lit(2), lit(10)), n =>
      transform(
        when(size(toks) >= n, sequence(lit(1), size(toks) - n + 1))
          .otherwise(array().cast("array<int>")),
        i => struct(n.cast("int").as("n"),
          md5(concat_ws(" ", slice(toks, i, n))).as("h"),
          length(concat_ws(" ", slice(toks, i, n))).cast("long").as("len")))))
    val gramStats = df.select(col(idCol).cast("long").as("doc_id"),
        explode(gramsAll).as("g"))
      .groupBy(col("doc_id"), col("g.n").as("n"), col("g.h").as("h"))
      .agg(count(lit(1)).as("c"), first(col("g.len")).as("len"))
      .groupBy("doc_id", "n")
      .agg(max(col("c") * col("len")).as("top_chars"),
        sum(when(col("c") >= 2, col("c") * col("len")).otherwise(0L))
          .as("dup_chars"))
    def nCol(n: Int, src: Column): Column =
      coalesce(max(when(col("n") === n, src)), lit(0L))
    val perDocGrams = gramStats.groupBy("doc_id").agg(
      nCol(2, col("top_chars")).as("top2"), nCol(3, col("top_chars")).as("top3"),
      nCol(4, col("top_chars")).as("top4"), nCol(5, col("dup_chars")).as("dup5"),
      nCol(6, col("dup_chars")).as("dup6"), nCol(7, col("dup_chars")).as("dup7"),
      nCol(8, col("dup_chars")).as("dup8"), nCol(9, col("dup_chars")).as("dup9"),
      nCol(10, col("dup_chars")).as("dup10"))
    val joined = perRow.join(perDocGrams, Seq("doc_id"), "left")
    val g = (name: String) => coalesce(col(name), lit(0L))
    def gf(name: String): Column =
      frac6(g(name), greatest(col("text_chars"), lit(1L)))
    joined.select(
        (Seq(col("doc_id"), col("n_words"), col("mean_word_chars6"),
          col("alpha_word_frac6"), col("stop_hits"), col("symbol_frac6"),
          col("bullet_line_frac6"), col("ellipsis_line_frac6"),
          col("dup_line_frac6"), col("dup_line_char_frac6")) ++
          Seq("top2" -> "top2gram_frac6", "top3" -> "top3gram_frac6",
            "top4" -> "top4gram_frac6", "dup5" -> "dup5gram_frac6",
            "dup6" -> "dup6gram_frac6", "dup7" -> "dup7gram_frac6",
            "dup8" -> "dup8gram_frac6", "dup9" -> "dup9gram_frac6",
            "dup10" -> "dup10gram_frac6").map { case (s, a) => gf(s).as(a) }): _*)
      .withColumn("keep", col("n_words") >= minWords &&
        col("n_words") <= maxWords &&
        col("mean_word_chars6") >= 3000000L && col("mean_word_chars6") <= 10000000L &&
        col("symbol_frac6") <= 100000L &&
        col("bullet_line_frac6") < 900000L &&
        col("ellipsis_line_frac6") < 300000L &&
        col("alpha_word_frac6") >= 800000L &&
        col("stop_hits") >= 2 &&
        col("dup_line_frac6") <= 300000L && col("dup_line_char_frac6") <= 200000L &&
        col("top2gram_frac6") <= 200000L && col("top3gram_frac6") <= 180000L &&
        col("top4gram_frac6") <= 160000L &&
        col("dup5gram_frac6") <= 150000L && col("dup6gram_frac6") <= 140000L &&
        col("dup7gram_frac6") <= 130000L && col("dup8gram_frac6") <= 120000L &&
        col("dup9gram_frac6") <= 110000L && col("dup10gram_frac6") <= 100000L)
  }

  /** Exact equal-count quantile bucketing of a scored table — the
    * CCNet-style head/middle/tail corpus partition by LM quality, or any
    * k-way curriculum split by a per-row score.
    *
    * `ntile` over the corpus would be the one-liner, but an unpartitioned
    * window is a single-task global sort — the canonical 100 TB
    * scale-killer. This operator gets the EXACT same discrete-quantile
    * semantics from aggregation shapes only:
    *
    *  1. histogram: `groupBy(score).count` — map-side combinable; the
    *     histogram's cardinality is bounded by the score codomain, not the
    *     corpus (a round-6 score in [0,1] has <= 1e6+1 distinct values),
    *  2. cumulative counts via a window over the HISTOGRAM (single
    *     partition over <= 1e6 rows, never the corpus),
    *  3. cut scores as a 1-row aggregate — cut j is the smallest score
    *     whose cumulative count reaches ceil(j*n/k) — broadcast,
    *  4. stateless per-row bucket assignment by comparing against the
    *     k-1 broadcast cuts; no corpus shuffle at all beyond the
    *     histogram's partial aggregation.
    *
    * Rows tied on the score always land in the same bucket (buckets are
    * score-contiguous and deterministic; a tie group straddling a cut
    * goes wholly to the lower bucket), which is exactly what a
    * quality-bucketed corpus wants — equal quality, equal treatment.
    * `labels` is ordered low score -> high score. Output:
    * (idCol, scoreCol, bucket). */
  /** The drift-report feature space over a documents table — ONE
    * definition for the batch snapshot report and the streaming monitor
    * (so a feature/bucketing tweak can never fork their verdicts): each
    * document contributes its language, its source, and its capped
    * 200-char length bucket as (feature, category) pairs. `extraCols`
    * pass through untouched (the batch report threads its slice flag). */
  def docCategoryPairs(df: org.apache.spark.sql.DataFrame,
      extraCols: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val fc = explode(array(
      struct(lit("lang").as("feature"), col("lang").as("category")),
      struct(lit("source").as("feature"), col("source").as("category")),
      struct(lit("len_bucket").as("feature"),
        least(expr("n_chars div 200"), lit(20L)).cast("string")
          .as("category"))))
    df.select(extraCols.map(col) :+ fc.as("fc"): _*)
      .select(extraCols.map(col) ++
        Seq(col("fc.feature").as("feature"),
          col("fc.category").as("category")): _*)
  }

  /** Exact PER-GROUP discrete quantiles of an integer-valued column — the
    * per-language token-length dashboard (p50/p95 sequence lengths drive
    * packing budgets and truncation policy) without a per-group sort.
    *
    * Same histogram shape as [[quantileBuckets]], partitioned by group:
    * `groupBy(group, value).count` bounds every window partition by the
    * VALUE CODOMAIN (distinct lengths, not rows), cumulative counts run
    * over those bounded histograms, and quantile q = num/den is read off
    * as the smallest value whose cumulative count reaches
    * ceil(num·n/den) — the discrete (type-1) quantile, pure integer
    * arithmetic, bit-reproducible in any engine. `quantiles` are
    * (outputName, num, den) with 0 < num/den <= 1. Output: (groupCol,
    * n_rows, <one column per quantile>). */
  def groupedQuantiles(df: org.apache.spark.sql.DataFrame, groupCol: String,
      valueCol: String, quantiles: Seq[(String, Int, Int)])
      : org.apache.spark.sql.DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    require(quantiles.forall { case (_, n, d) => n > 0 && d > 0 && n <= d },
      s"quantiles must satisfy 0 < num/den <= 1: $quantiles")
    import org.apache.spark.sql.expressions.Window
    val hist = df.groupBy(groupCol, valueCol).agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum",
        sum("cnt").over(Window.partitionBy(groupCol).orderBy(valueCol)))
      .withColumn("n", sum("cnt").over(Window.partitionBy(groupCol)))
    val aggs = quantiles.map { case (nm, num, den) =>
      min(when(col("cum") >= expr(s"($num * n + ${den - 1}) div $den"),
        col(valueCol))).as(nm)
    }
    cum.groupBy(groupCol)
      .agg(max("n").as("n_rows"), aggs: _*)
  }

  def quantileBuckets(scored: org.apache.spark.sql.DataFrame, idCol: String,
      scoreCol: String, labels: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(labels.size >= 2, "need at least two bucket labels")
    require(labels.distinct.size == labels.size, "bucket labels must be distinct")
    val k = labels.size
    import org.apache.spark.sql.expressions.Window
    val hist = scored.groupBy(scoreCol).agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum", sum("cnt").over(Window.orderBy(scoreCol)))
    val total = scored.agg(count(lit(1)).as("n"))
    // ceil(j*n/k) in pure integer arithmetic: (j*n + k-1) div k
    val cuts = (1 until k).map { j =>
      min(when(col("cum") >= expr(s"($j * n + ${k - 1}) div $k"),
        col(scoreCol))).as(s"__t$j")
    }
    val thr = cum.crossJoin(broadcast(total)).agg(cuts.head, cuts.tail: _*)
    val bucket = (1 until k).foldRight(lit(labels.last): Column) { (j, acc) =>
      when(col(scoreCol) <= col(s"__t$j"), lit(labels(j - 1))).otherwise(acc)
    }
    scored.crossJoin(broadcast(thr))
      .select(col(idCol), col(scoreCol), bucket.as("bucket"))
  }
}
