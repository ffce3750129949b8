package graft.text

import graft.analysis.Analyzer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Num

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All
  * per-row (narrow) column math — at 100 TB these run as a single
  * map-only stage fused into the scan by whole-stage codegen.
  */
object TextAnalysis {

  /** Tiny per-language function-word lists (public knowledge). Scoring
    * is the classic stopword-hit heuristic: share of tokens that are
    * function words of language L. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "im", "nicht"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "was", "for", "with", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "est"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo", "zai", "you", "he", "ren", "ta"))

  /** Language ID: argmax over per-language stopword-hit ratios, ties
    * broken by language code asc (deterministic). Output columns:
    * pred_lang, lang_score.
    *
    * All L hit counters come from ONE LangHits kernel pass
    * ([n_tokens, hits_0, ..]); the per-ratio HOF formulation
    * re-evaluated the tokenizer once per language after
    * CollapseProject re-inlining (the r1 hazard). */
  def languageId(text: Column): (Column, Column) = {
    val hits = org.apache.spark.sql.GraftBridge.column(
      graft.expr.LangHits(
        org.apache.spark.sql.GraftBridge.expression(Analyzer.tokens(text)),
        stopwords.map(_._2)))
    val nToks = greatest(element_at(hits, 1), lit(1L)).cast("double")
    val scores = stopwords.zipWithIndex.map { case ((l, _), i) =>
      l -> element_at(hits, i + 2).cast("double") / nToks
    }
    // fixed-precedence argmax: earlier (asc) language wins ties
    val best = scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
      case ((bl, bs), (l, s)) => (when(s > bs, lit(l)).otherwise(bl), greatest(s, bs))
    }
    (best._1, Num.round(best._2, 4))
  }

  /** Heuristic quality score in [0,1]: combines length, punctuation
    * ratio, stopword ratio and repetition (type/token ratio) — the
    * standard cheap pre-filters applied before expensive model scoring
    * in data pipelines. */
  def qualityScore(text: Column): DataFrame => DataFrame = { df =>
    // one TokenStats kernel pass per row: (n_tokens, n_distinct,
    // stop_hits) — the HOF ratios each re-walked the token array.
    val ts = org.apache.spark.sql.GraftBridge.column(
      graft.expr.TokenStats(
        org.apache.spark.sql.GraftBridge.expression(Analyzer.tokens(text)),
        stopwords.toMap.apply("en")))
    val nChars = length(text).cast("double")
    val nToks = greatest(ts.getField("n_tokens"), lit(1L)).cast("double")
    val punct = length(regexp_replace(lower(text), "[a-z0-9 ]", "")).cast("double")
    df.withColumn("n_tokens", ts.getField("n_tokens"))
      .withColumn("punct_ratio", Num.round(punct / greatest(nChars, lit(1.0)), 4))
      .withColumn("stopword_ratio", Num.round(ts.getField("stop_hits").cast("double") / nToks, 4))
      .withColumn("ttr", Num.round(ts.getField("n_distinct").cast("double") / nToks, 4))
      .withColumn(
        "quality",
        Num.round(
          least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.3
            + (lit(1.0) - least(col("punct_ratio") * 5.0, lit(1.0))) * 0.2
            + least(col("stopword_ratio") * 5.0, lit(1.0)) * 0.2
            + col("ttr") * 0.3,
          4))
  }

  /** The C4 heuristic filter battery (Raffel et al. 2020, the public
    * recipe; FineWeb keeps the same core rules): per-doc signals plus
    * the keep decision. Rules over the raw text, all deterministic
    * regex/string column math (map-only, codegen'd, no shuffle):
    *  - `n_lines` / `n_kept_lines`: lines ending in terminal
    *    punctuation (. ! ? ") survive C4's line filter;
    *  - `n_sentences`: terminal-punctuation runs — C4 drops docs with
    *    fewer than 3 sentences;
    *  - `has_lorem` / `has_brace` / `has_policy`: the "lorem ipsum",
    *    curly-brace (code), and cookie/privacy-boilerplate doc drops;
    *  - `keep`: none of the drop signals fired and >= 3 sentences.
    * (C4's bad-words list and FineWeb's duplicate-line fraction are
    * covered by the stopword machinery and q_dedup_lines.) */
  def c4Filters(text: Column): Seq[(String, Column)] = {
    val lines = filter(split(text, "\n"), l => length(l) > 0)
    // explicit whitespace class — Java \s vs RE2 \s differ on \x0B
    val kept = filter(lines, l => l.rlike("[.!?\"][ \\t\\r]*$"))
    val low = lower(text)
    Seq(
      "n_lines" -> size(lines).cast("long"),
      "n_kept_lines" -> size(kept).cast("long"),
      "n_sentences" -> size(filter(split(text, "[.!?]+"),
        s => length(trim(s)) > 0)).cast("long"),
      "has_lorem" -> low.contains("lorem ipsum"),
      "has_brace" -> text.contains("{"),
      "has_policy" -> (low.contains("privacy policy") ||
        low.contains("terms of use") || low.contains("cookie policy") ||
        low.contains("uses cookies")))
  }

  /** The keep decision over [[c4Filters]] signals (split out so the
    * caller can audit signals and decision in one projection). */
  def c4Keep(sig: Map[String, Column]): Column =
    !sig("has_lorem") && !sig("has_brace") && !sig("has_policy") &&
      sig("n_sentences") >= 3

  /** Gopher-style quality rule battery (Rae et al. 2021 appendix A1.1,
    * the public recipe; thresholds are parameters of the analog, tuned
    * to this corpus's scale): per-doc signals the rules gate on, all
    * map-only column math off ONE TokenStats kernel pass plus char
    * arithmetic — no HOF re-walks, no shuffle.
    *  - `n_words`: analyzer token count;
    *  - `mean_word_len`: total token chars / words (Gopher keeps
    *    docs whose mean word length sits in a sane band);
    *  - `symbol_ratio`: '#' and ellipsis occurrences per word
    *    (Gopher drops symbol-heavy scraped pages);
    *  - `alpha_ratio`: alphabetic chars / non-space chars (Gopher:
    *    >= 80% of WORDS must contain an alphabetic char; chars are
    *    the same signal one kernel cheaper);
    *  - `stop_hits`: english stopword occurrences (Gopher's "has at
    *    least 2 of a small stopword set" rule). */
  def gopherSignals(text: Column): Seq[(String, Column)] = {
    val ts = org.apache.spark.sql.GraftBridge.column(
      graft.expr.TokenStats(
        org.apache.spark.sql.GraftBridge.expression(Analyzer.tokens(text)),
        stopwords.toMap.apply("en")))
    val nWords = ts.getField("n_tokens")
    val nW = greatest(nWords, lit(1L)).cast("double")
    val tokChars = length(regexp_replace(lower(text), "[^a-z0-9]", "")).cast("double")
    val alphaChars = length(regexp_replace(lower(text), "[^a-z]", "")).cast("double")
    val nonSpace = greatest(length(regexp_replace(text, " ", "")), lit(1)).cast("double")
    val symbols = regexp_count(text, lit("#|\\.\\.\\."))
    Seq(
      "n_words" -> nWords,
      "mean_word_len" -> Num.round(tokChars / nW, 4),
      "symbol_ratio" -> Num.round(symbols.cast("double") / nW, 4),
      "alpha_ratio" -> Num.round(alphaChars / nonSpace, 4),
      "stop_hits" -> ts.getField("stop_hits"))
  }

  /** The Gopher keep decision over `gopherSignals` (thresholds scaled
    * to this corpus: >= 25 words where the paper uses 50 for web
    * pages; the rule STRUCTURE is the published one). */
  def gopherKeep(sig: Map[String, Column]): Column =
    sig("n_words").between(25L, 100000L) &&
      sig("mean_word_len").between(3.0, 10.0) &&
      sig("symbol_ratio") < 0.1 &&
      sig("alpha_ratio") >= 0.7 &&
      sig("stop_hits") >= 2L

  /** URL canonicalization — the normalization pass URL-keyed dedup
    * runs before grouping (mirrors the public CommonCrawl-pipeline
    * recipe): lowercase scheme+host, strip default ports (:80/:443),
    * drop fragments, drop utm_* tracking params, collapse the
    * dangling separators that leaves, strip one trailing slash.
    * Chained regex/string builtins — map-only, codegen'd; the DuckDB
    * oracle mirrors each step with the 'g' flag (Spark's
    * regexp_replace is always global). */
  def canonicalizeUrl(url: Column): Column = {
    // scheme://host[:port] = everything before the first path slash;
    // lowercase it, leave the path/query case alone
    // the head stops at '/' OR '?': a root-slash-stripped canonical
    // form (host?query) must not re-enter the lowercase pass with its
    // query swallowed into the "host" — canonicalization is a FIXED
    // POINT (idempotence property-tested)
    // the default port is stripped on the HEAD alone — the head ends
    // exactly at the port position, so a plain `:(80|443)$` anchor
    // suffices and the path/query tail can never be touched (a
    // whole-URL global pass also matched '...?t=12:443' at end of
    // string, collapsing genuinely distinct URLs onto one key)
    val head = regexp_replace(
      lower(regexp_extract(url, "^[^/?]*//[^/?]*", 0)), ":(80|443)$", "")
    val tail = regexp_replace(url, "^[^/?]*//[^/?]*", "")
    val u0 = concat(head, tail)
    val noPort = regexp_replace(u0, "#.*", "")
    // utm params are matched WITH their leading separator ('?' or
    // '&') so a path segment that merely contains "utm_..." is never
    // touched; consecutive params each carry their own anchor, so one
    // global pass removes them all
    val noUtm = regexp_replace(noPort, "[?&]utm_[a-z]+=[^&#]*", "")
    // a query that lost its leading '?' to the utm strip gets it back
    // from the first surviving '&' — only when that '&' introduces a
    // param-shaped token, so a literal '&' in a query-less path stays
    val fixSep = regexp_replace(noUtm, "^([^?]*)&([A-Za-z0-9_]+=)", "$1?$2")
    val noDangle = regexp_replace(regexp_replace(fixSep, "[?&]+$", ""), "\\?&", "?")
    regexp_replace(regexp_replace(noDangle, "/\\?", "?"), "/$", "")
  }

  /** Cheap text normalization — the standard pre-tokenization cleanup
    * in data pipelines: strip URLs and emails, collapse whitespace
    * runs, trim. Pure regex column math (narrow, codegen'd).
    * Whitespace is an EXPLICIT class: Java's \s includes \x0B while
    * RE2's (the DuckDB oracle's) does not, so shorthand classes break
    * bit-for-bit parity on exotic whitespace. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(text,
      "https?://[^ \\t\\n\\f\\r]+", " "),
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", " "),
      "[ \\t\\n\\f\\r]+", " "))

  /** Token counting: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation marks) — the cheap
    * proxy used to size training corpora. */
  def tokenCounts(text: Column): Seq[(String, Column)] = Seq(
    "ws_tokens" -> size(filter(split(text, "\\s+"), t => length(t) > 0)).cast("long"),
    "bpe_tokens" -> size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).cast("long"))

  /** Per-document keyword extraction: top-k terms by tf-idf — the
    * feature-tagging op pipelines run after cleaning. tf is one
    * explode+groupBy; the document-frequency table is vocabulary-sized
    * and joins on term (shuffle); corpus size is a 1-row broadcast.
    * idf = ln(n_docs / df). */
  def keywordsTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tf = docs
      .select(col(idCol).as("id"), explode(Analyzer.tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("dfreq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", Num.round(col("tf") * log(col("n_docs") / col("dfreq")), 4))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("id"), col("rank"), col("term"), col("score"))
      .orderBy(col("id").asc, col("rank").asc)
  }

  /** PII signals for privacy filtering: cheap regex detectors a
    * pipeline gates on before training. Narrow column math; the regex
    * dialect is the Java/RE2 common subset so the oracle agrees. */
  def piiSignals(text: Column): Seq[(String, Column)] = Seq(
    "has_email" -> text.rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    "has_url" -> text.rlike("https?://"),
    "n_digit_runs" -> size(regexp_extract_all(text, lit("[0-9]+"), lit(0))).cast("long"),
    "n_long_numbers" -> size(regexp_extract_all(text, lit("[0-9]{6,}"), lit(0))).cast("long"))

  /** Sequence packing for training batches: assign documents to packs
    * of ~`budget` units (tokens/chars) by cumulative size, WITHIN a
    * grouping column — the window is group-local, so packing
    * parallelizes across groups instead of forcing one global sort
    * (the scalable shape; a global pack order is a single-partition
    * window at 100 TB). A document lands in the pack where its START
    * offset falls: deterministic, one window pass. */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      sizeCol: Column,
      groupCol: String,
      budget: Long): DataFrame = {
    // explicit ROWS frame: the default RANGE frame sums ALL peer rows
    // of a tied idCol at once, silently diverging from the documented
    // per-row cumulative semantics when ids are not unique
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = sum(sizeCol).over(w)
    docs.select(
      col(idCol),
      col(groupCol),
      sizeCol.as("size"),
      concat_ws("/", col(groupCol),
        floor((cum - sizeCol).cast("double") / budget).cast("long")).as("pack_id"))
  }

  /** The dataloader's view of a packing: per document, its pack and
    * its BYTE/TOKEN OFFSET inside that pack — what a concatenating
    * loader needs to slice sequences back out without re-scanning
    * text. Same group-local windows as `packSequences` (one shuffle on
    * the group column); the offset is the doc's cumulative start minus
    * its pack's budget origin, so a straddling last doc (the greedy
    * binning's documented form) reports an offset near the budget. */
  def packLayout(
      docs: DataFrame,
      idCol: String,
      sizeCol: Column,
      groupCol: String,
      budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val start = sum(sizeCol).over(w) - sizeCol
    val packIdx = floor(start.cast("double") / budget).cast("long")
    docs.select(
      col(idCol),
      col(groupCol),
      sizeCol.cast("long").as("size"),
      concat_ws("/", col(groupCol), packIdx).as("pack_id"),
      (start - packIdx * budget).cast("long").as("offset"))
  }

  /** Token-window chunking for context-window preparation: split each
    * document's token stream into windows of `chunkSize` tokens with
    * `overlap` tokens carried between consecutive chunks — THE
    * pre-training/RAG segmentation op. One narrow pass: tokenize
    * (compiled kernel), build the window starts with `sequence`, slice
    * per start, posexplode. No shuffle; at 100 TB this stays a map-only
    * stage and the chunk count per row is bounded by doc length.
    * Output: (id, chunk_idx, n_tokens, chunk_text). */
  def chunkTokens(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      overlap: Int): DataFrame = {
    require(chunkSize > overlap && overlap >= 0,
      s"chunkTokens needs chunkSize > overlap >= 0, got ($chunkSize, $overlap)")
    val stride = chunkSize - overlap
    // starts: 0, stride, 2*stride, ... strictly below n_tokens (empty
    // docs produce no chunks). Slice is 1-based. Built against the
    // PROJECTED "toks" column — the text column is gone by then.
    val starts = sequence(lit(0), greatest(
      floor((size(col("toks")) - 1).cast("double") / stride).cast("int"), lit(0)))
    docs
      .select(col(idCol).as("id"), Analyzer.tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("id"),
        posexplode(transform(starts, s => slice(col("toks"), s * stride + 1, lit(chunkSize)))))
      .select(
        col("id"), col("pos").as("chunk_idx"),
        size(col("col")).cast("long").as("n_tokens"),
        concat_ws(" ", col("col")).as("chunk_text"))
  }

  /** Deterministic stratified sampling for data mixing: keep a row iff
    * a uniform hash of its id falls under the stratum's rate — the
    * reproducible alternative to rand() that makes mixes auditable and
    * re-runnable. The hash is the first 48 md5 bits of the id scaled
    * to [0,1) (portable: the oracle computes the identical value).
    * Narrow map-only filter; no shuffle, no state. */
  def stratifiedSample(
      docs: DataFrame,
      idCol: String,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double): DataFrame = {
    val u = Num.uniformHash48(col(idCol))
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(col(strataCol) === k, lit(r)).otherwise(acc)
    }
    docs.where(u < rate)
  }

  /** Benchmark-contamination screen: documents sharing at least
    * `minShared` 3-gram shingles with any benchmark text. The
    * benchmark's shingle set is tiny (eval sets are small) and
    * BROADCAST; docs explode their shingles once and the overlap count
    * is a broadcast-join + groupBy on doc id — the full corpus never
    * shuffles. Output: (id, n_shared) for contaminated docs. */
  def contaminationScreen(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchTextCol: String,
      minShared: Int = 1): DataFrame = {
    val benchShingles = benchmark
      .select(explode(Analyzer.shingles(Analyzer.tokens(col(benchTextCol)))).as("sh"))
      .distinct()
    docs
      .select(col(idCol).as("id"),
        explode(Analyzer.shingles(Analyzer.tokens(col(textCol)))).as("sh"))
      .join(broadcast(benchShingles), "sh")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy(col("id").asc)
  }

  /** Repetition ratio (the Gopher-style quality signal): fraction of
    * 3-gram occurrences that are repeats of an earlier 3-gram in the
    * same document — near-1 for template/boilerplate spam, near-0 for
    * prose. total 3-grams = n_tokens - 2; distinct come from the
    * compiled shingle kernel. Narrow map-only column math. */
  /** FineWeb line-quality battery (Penedo et al. 2024, public): the
    * LINE-shape filters FineWeb applies on top of the Gopher/C4
    * batteries — short-line fraction, the fraction of CHARACTERS
    * sitting in intra-document duplicated lines (every occurrence of
    * a duplicated line counts), bullet-start and ellipsis-end line
    * fractions. Pure narrow array math per row — no shuffle, no UDF;
    * the duplicate scan is O(lines^2) per document (web pages carry
    * dozens of lines, never corpus-scale cardinality). */
  def fineWebSignals(page: Column): Seq[(String, Column)] = {
    val lines = filter(split(page, "\n"), l => length(l) > 0)
    val n = size(lines).cast("double")
    val short = size(filter(lines, l => length(l) < 30)).cast("double")
    val bullets = size(filter(lines,
      l => l.startsWith("- ") || l.startsWith("* "))).cast("double")
    val ellipsis = size(filter(lines, l => l.endsWith("..."))).cast("double")
    val totChars = aggregate(lines, lit(0), (a, x) => a + length(x)).cast("double")
    val dupChars = aggregate(lines, lit(0), (a, x) =>
      a + when(size(filter(lines, y => y === x)) > 1, length(x))
        .otherwise(lit(0))).cast("double")
    Seq(
      "n_lines" -> size(lines).cast("long"),
      "short_line_frac" -> Num.round(short / greatest(n, lit(1.0)), 4),
      "dup_line_char_frac" -> Num.round(dupChars / greatest(totChars, lit(1.0)), 4),
      "bullet_frac" -> Num.round(bullets / greatest(n, lit(1.0)), 4),
      "ellipsis_frac" -> Num.round(ellipsis / greatest(n, lit(1.0)), 4))
  }

  /** The published FineWeb keep rule over those signals. */
  def fineWebKeep(sig: Map[String, Column]): Column =
    sig("short_line_frac") <= 0.67 && sig("dup_line_char_frac") <= 0.3 &&
      sig("bullet_frac") <= 0.9 && sig("ellipsis_frac") <= 0.3

  def repetitionRatio(text: Column): Column = {
    val toks = Analyzer.tokens(text)
    val total = greatest(size(toks) - 2, lit(0)).cast("double")
    val distinctN = size(Analyzer.shingles(toks)).cast("double")
    Num.round(
      when(total > 0, (total - distinctN) / total).otherwise(lit(0.0)), 4)
  }

  /** Compression-ratio quality signal (deflate side): the classic
    * boilerplate/templated-page detector (Gopher and RefinedWeb both
    * gate on it — machine-generated and heavily repeated text
    * compresses far below prose). One zlib Deflater per PARTITION,
    * reset per row (codec-init-once, like the media decoders); output
    * is the deflated payload + its size, which the query half
    * round-trips back. Map-only, nothing shuffles. */
  def deflateCorpus(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater()
        // free the native zlib handle even when a downstream
        // limit/take abandons the iterator before it drains (the
        // drain-time end() below never fires then); end() is
        // idempotent so the full-drain path may release twice
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](1 << 16)
        val mapped = rows.map { case (id, text) =>
          val raw = text.getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(raw); deflater.finish()
          val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
          while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
          (id, out.toByteArray)
        }
        // release the native zlib buffer when the partition drains —
        // waiting for the finalizer leaks GC-invisible native memory
        // on long-lived executors (end() is idempotent)
        new Iterator[(Long, Array[Byte])] {
          def hasNext: Boolean = {
            val h = mapped.hasNext
            if (!h) deflater.end()
            h
          }
          def next(): (Long, Array[Byte]) = mapped.next()
        }
      }.toDF("doc_id", "payload")
  }

  /** Compression-ratio quality signal (inflate side): re-inflate the
    * deflated payloads and emit sizes, the ratio, and the md5 of the
    * ROUND-TRIPPED text — the oracle recomputes that md5 from the
    * source table independently, so the deflate, the parquet binary
    * round trip and the inflate are all under the hash (the jpeg
    * generation-time-stats contract, for text). A low ratio is the
    * drop signal; the threshold lives with the caller's gate. */
  def inflateStats(
      spark: org.apache.spark.sql.SparkSession, packed: DataFrame): DataFrame = {
    import spark.implicits._
    packed.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // codec-init-once like the deflate side: one Inflater (reset
        // per row) and one MessageDigest (digest() resets it) per
        // partition, not per document
        val inflater = new java.util.zip.Inflater()
        // same partial-consumption rail as the deflate side: the
        // task-completion listener frees the native handle when a
        // limit/take stops the iterator early; end() is idempotent
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => inflater.end()))
        val digest = java.security.MessageDigest.getInstance("MD5")
        val buf = new Array[Byte](1 << 16)
        val mapped = rows.map { case (id, payload) =>
          inflater.reset()
          inflater.setInput(payload)
          val out = new java.io.ByteArrayOutputStream(payload.length * 3 + 32)
          while (!inflater.finished()) {
            val n = inflater.inflate(buf)
            // all input was set upfront: zero progress without finish
            // is a torn or dictionary-demanding stream — loud, never
            // an infinite loop
            require(n > 0 || inflater.finished(),
              s"truncated deflate stream for doc $id")
            out.write(buf, 0, n)
          }
          val raw = out.toByteArray
          val md = digest.digest(raw)
          (id, raw.length.toLong, payload.length.toLong,
            md.map(b => f"${b & 0xff}%02x").mkString)
        }
        new Iterator[(Long, Long, Long, String)] {
          def hasNext: Boolean = {
            val h = mapped.hasNext
            if (!h) inflater.end()
            h
          }
          def next(): (Long, Long, Long, String) = mapped.next()
        }
      }.toDF("doc_id", "raw_bytes", "deflate_bytes", "fp")
      // empty docs have no ratio (NULL, both engines) — zlib's fixed
      // 8-byte empty stream over 0 raw bytes is not a quality signal
      .withColumn("ratio", when(col("raw_bytes") > 0,
        Num.round(col("deflate_bytes").cast("double") / col("raw_bytes"), 4)))
  }

  /** BOM-less UTF-16 heuristic (r17): ASCII-dominant UTF-16 text is
    * an alternating-NUL byte pattern — ≥3/4 of one parity's bytes are
    * 0x00 while ≤1/8 of the other's are, over the first 1024 bytes.
    * Real 8-bit text (UTF-8 / windows-1252 crawled HTML) carries no
    * NULs at all, so the rule cannot misfire there; a short window
    * (< 16 bytes) abstains rather than guess. */
  private def utf16Heuristic(bytes: Array[Byte]): Option[String] = {
    val w = math.min(bytes.length & ~1, 1024)
    if (w < 16) None
    else {
      var evenZ = 0; var oddZ = 0
      var i = 0
      while (i < w) {
        if (bytes(i) == 0) { if ((i & 1) == 0) evenZ += 1 else oddZ += 1 }
        i += 1
      }
      val pairs = w / 2
      if (evenZ * 4 >= pairs * 3 && oddZ * 8 <= pairs) Some("utf-16be")
      else if (oddZ * 4 >= pairs * 3 && evenZ * 8 <= pairs) Some("utf-16le")
      else None
    }
  }

  /** HTML `<meta charset=...>` prescan (r17) — the hint browsers
    * honor and real crawls need constantly: an ASCII-case-folded
    * linear scan of the first 1024 bytes for `<meta ...>` tags, then
    * `charset=` inside the tag (covers both the HTML5 attribute and
    * the legacy `http-equiv` `content="...; charset=..."` spelling,
    * whose charset= token also lives inside the tag text). Labels
    * map per the WHATWG encoding registry's crawl-relevant rows:
    * latin-1/ascii/x-user-defined are windows-1252 in browsers, and
    * a meta claiming utf-16 is read as utf-8 (the prescan only
    * succeeded because the bytes were ASCII-compatible). UNKNOWN
    * labels return None — the caller falls back to the byte sniff,
    * and the decision is visible in the output charset column. */
  private[graft] def metaCharsetHint(bytes: Array[Byte]): Option[String] = {
    val w = math.min(bytes.length, 1024)
    val s = {
      val arr = new Array[Char](w)
      var i = 0
      while (i < w) {
        val c = (bytes(i) & 0xff).toChar
        arr(i) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        i += 1
      }
      new String(arr)
    }
    // WHATWG "ASCII whitespace": tab, LF, FF, CR, space
    def ws(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'
    var from = 0
    while (from < w) {
      val tagAt = s.indexOf("<meta", from)
      if (tagAt < 0) return None
      val tagEnd = { val e = s.indexOf('>', tagAt); if (e < 0) w else e }
      val tag = s.substring(tagAt, tagEnd)
      // EVERY charset= occurrence in the tag gets a chance (the first
      // may be data-charset="x" or an unknown label; a later one —
      // e.g. inside http-equiv content — can still resolve)
      var csAt = tag.indexOf("charset")
      while (csAt >= 0) {
        var i = csAt + "charset".length
        while (i < tag.length && ws(tag(i))) i += 1
        if (i < tag.length && tag(i) == '=') {
          i += 1
          while (i < tag.length && (ws(tag(i)) || tag(i) == '"' || tag(i) == '\'')) i += 1
          val start = i
          while (i < tag.length && tag(i) != '"' && tag(i) != '\'' &&
            !ws(tag(i)) && tag(i) != ';' && tag(i) != '/') i += 1
          val label = tag.substring(start, i).trim
          val mapped = label match {
            case "utf-8" | "utf8" => Some("utf-8")
            case "iso-8859-1" | "latin1" | "latin-1" | "us-ascii" | "ascii" |
                 "windows-1252" | "cp1252" | "x-user-defined" => Some("windows-1252")
            case "utf-16" | "utf-16be" | "utf-16le" | "utf16" => Some("utf-8")
            case _ => None // unknown label: try the next occurrence
          }
          if (mapped.nonEmpty) return mapped
        }
        csAt = tag.indexOf("charset", csAt + "charset".length)
      }
      from = tagEnd + 1
    }
    None
  }

  /** Charset sniffing — real crawled bodies are NOT all UTF-8. The
    * browser-grade minimum: BOM first (UTF-8 / UTF-16BE / UTF-16LE),
    * then the BOM-less UTF-16 alternating-NUL heuristic, then the
    * HTML `<meta charset>` prescan hint (browsers honor it over
    * content sniffing), then strict UTF-8 validation (the multi-byte
    * state machine — a single stray 0x80..0xFF continuation error
    * rejects), else the web's legacy default windows-1252 (what
    * browsers actually use where "latin-1" is declared). Pure byte
    * inspection, no library. */
  def charsetOf(bytes: Array[Byte]): String = {
    def u(i: Int) = bytes(i) & 0xff
    if (bytes == null || bytes.isEmpty) "utf-8"
    else if (bytes.length >= 3 && u(0) == 0xef && u(1) == 0xbb && u(2) == 0xbf) "utf-8"
    else if (bytes.length >= 2 && u(0) == 0xfe && u(1) == 0xff) "utf-16be"
    else if (bytes.length >= 2 && u(0) == 0xff && u(1) == 0xfe) "utf-16le"
    else utf16Heuristic(bytes).orElse(metaCharsetHint(bytes)).getOrElse {
      // the full table (RFC 3629): the lead byte constrains the
      // SECOND byte's range — E0 A0-BF (else overlong), ED 80-9F
      // (else a UTF-16 surrogate), F0 90-BF (else overlong), F4
      // 80-8F (else past U+10FFFF). A validator without these
      // accepts sequences a real decoder replaces with U+FFFD —
      // silently corrupting text that the windows-1252 fallback
      // would have decoded correctly.
      var i = 0; var ok = true
      while (ok && i < bytes.length) {
        val b = u(i)
        if (b < 0x80) i += 1
        else {
          val need =
            if (b >= 0xc2 && b <= 0xdf) 1
            else if (b >= 0xe0 && b <= 0xef) 2
            else if (b >= 0xf0 && b <= 0xf4) 3
            else -1 // 80-C1 stray/overlong, F5-FF out of range
          if (need < 0 || i + need >= bytes.length) ok = false
          else {
            val b2 = u(i + 1)
            val (lo2, hi2) = b match {
              case 0xe0 => (0xa0, 0xbf)
              case 0xed => (0x80, 0x9f)
              case 0xf0 => (0x90, 0xbf)
              case 0xf4 => (0x80, 0x8f)
              case _ => (0x80, 0xbf)
            }
            ok = b2 >= lo2 && b2 <= hi2
            var k = 2
            while (ok && k <= need) {
              ok = (u(i + k) & 0xc0) == 0x80
              k += 1
            }
            i += 1 + need
          }
        }
      }
      if (ok) "utf-8" else "windows-1252"
    }
  }

  /** Detect + decode in one step: BOMs are consumed (the Java UTF-16
    * decoder handles its own; the UTF-8 BOM is stripped manually),
    * and the windows-1252 fallback maps every byte — decode can never
    * throw, which is what a crawl pipeline needs from this stage. */
  def decodeDetected(bytes: Array[Byte]): (String, String) =
    if (bytes == null) ("utf-8", "") else charsetOf(bytes) match {
    case "utf-8" =>
      val off = if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef &&
        (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf) 3 else 0
      ("utf-8", new String(bytes, off, bytes.length - off, "UTF-8"))
    case cs @ ("utf-16be" | "utf-16le") =>
      val bom = bytes.length >= 2 &&
        (((bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff) ||
          ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe))
      if (bom) (cs, new String(bytes, "UTF-16")) // BOM-driven, consumed
      // BOM-less (the r17 heuristic): the detected endianness IS the
      // decode parameter — Java's "UTF-16" would default BOM-less
      // input to big-endian and shred an LE body into CJK garbage
      else (cs, new String(bytes, if (cs == "utf-16be") "UTF-16BE" else "UTF-16LE"))
    case cs => (cs, new String(bytes, "windows-1252"))
  }

  /** PII redaction (the masking counterpart of `piiSignals`): URLs,
    * emails, then long digit runs replaced with typed placeholders, in
    * that order — URLs first so an email-looking URL path segment
    * doesn't get half-masked. Pure regex column math (narrow,
    * codegen'd), same Java/RE2-common dialect as the detectors. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, "https?://[^ \\t\\n\\f\\r]+", "[URL]"),
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
      "[0-9]{6,}", "[NUM]")

  /** Order-sensitive document fingerprint: polynomial rolling hash over
    * the token stream, tokens hashed via md5 (portable). Modulus 1e9+7
    * keeps every intermediate < 2^35 (no overflow in either engine).
    * Identical token streams => identical fingerprint; any reorder or
    * edit changes it (unlike the bag-of-words content_hash). */
  def fingerprint(text: Column): Column =
    // native compiled kernel — the `aggregate` HOF fold with a
    // per-token hex-string md5 is CodegenFallback and ~3x slower;
    // fingerprintKernel computes the identical value (hash48 ==
    // conv(substr(md5,1,12),16,10), same fold order and modulus)
    org.apache.spark.sql.GraftBridge.column(
      graft.expr.RollingFingerprint(
        org.apache.spark.sql.GraftBridge.expression(Analyzer.tokens(text))))

  /** Paragraph-level (sub-document) duplication ratio — the
    * C4/RefinedWeb-style signal "how much of this doc repeats text
    * seen elsewhere in the corpus". The paragraph unit here is a
    * fixed token window (the corpus has no layout breaks): docs are
    * chunked non-overlapping, chunks are md5-keyed, one global count
    * per chunk key, and each doc reports the share of its chunks
    * occurring more than once corpus-wide (including within-doc
    * repeats). Shuffle moves (chunk_hash, id) pairs — the 128-bit key,
    * never chunk text. */
  def paragraphDupRatio(
      docs: DataFrame, idCol: String, textCol: String, chunkSize: Int): DataFrame = {
    val chunks = chunkTokens(docs, idCol, textCol, chunkSize, 0)
      .select(col("id"), md5(col("chunk_text")).as("h"))
    val freq = chunks.groupBy(col("h")).agg(count(lit(1)).as("n"))
    chunks
      .join(freq, Seq("h"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("n") > 1L, 1L).otherwise(0L)).as("dup_chunks"))
      .select(
        col("id"), col("n_chunks"), col("dup_chunks"),
        Num.round(col("dup_chunks").cast("double") / col("n_chunks"), 4).as("dup_ratio"))
      .orderBy(col("id"))
  }

  /** Exact substring-duplication screen — the published
    * stride-1-window shape (find any `k`-token span appearing more
    * than once in the corpus; the suffix-array exact-substring dedup
    * result, reached with hashes instead of a suffix array). Every
    * position contributes a window fingerprint (compiled
    * WindowFingerprints kernel — token md5s computed once, Horner
    * fold per window), the ONE shuffle carries (hash, partial count)
    * pairs — 8-byte keys, corpus-token cardinality, the same exchange
    * class as dedupLines — and docs re-join their own window hashes
    * to count duplicated spans. Overlapping windows mean `dup_spans`
    * counts positions, not maximal spans (the standard form of the
    * published metric). */
  def substringDupSpans(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val wf = org.apache.spark.sql.GraftBridge.column(
      graft.expr.WindowFingerprints(
        org.apache.spark.sql.GraftBridge.expression(
          Analyzer.tokens(col(textCol))), k))
    val wins = docs
      .select(col(idCol).as("id"), explode(wf).as("h"))
    val freq = wins.groupBy(col("h")).agg(count(lit(1)).as("n"))
    wins
      .join(freq, Seq("h"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("n") > 1L, 1L).otherwise(0L)).as("dup_spans"))
      .select(col("id"), col("n_spans"), col("dup_spans"),
        Num.round(col("dup_spans").cast("double") / col("n_spans"), 4)
          .as("dup_ratio"))
      .orderBy(col("id"))
  }

  /** Exact-substring SPAN REMOVAL — the cut step of the published
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): whenever a `k`-token window
    * repeats anywhere in the corpus, every occurrence EXCEPT the
    * globally first (ordered by (doc, position) — deterministic, so
    * exactly one copy of each duplicated span survives) is cut, and a
    * doc's surviving text is its tokens not covered by any cut window.
    * `substringDupSpans` measures duplication; this operator performs
    * the dedup itself at span granularity — the form that saves the
    * unique prose around a boilerplate block instead of dropping or
    * keeping whole documents.
    *
    * Shape: ONE exchange keyed on the 8-byte window hash computes both
    * the occurrence count and the keep-first rank (both window specs
    * share the hash partitioning, so they plan onto a single shuffle);
    * the cut list rides back to its doc as (id, pos) pairs — sized by
    * the duplication, never the corpus — and coverage is a per-doc
    * map-only lambda. Returns (id, n_tokens, n_removed, kept_fp) where
    * kept_fp fingerprints the surviving token stream (the
    * oracle-checkable stand-in for emitting the cleaned text column;
    * compose with `filter`/`transform` to materialize it). */
  def removeDupSpans(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.expressions.Window
    val toks = graft.util.Stages.fanOut(docs).select(
      col(idCol).as("id"), Analyzer.tokens(col(textCol)).as("toks"))
    val wf = GraftBridge.column(graft.expr.WindowFingerprints(
      GraftBridge.expression(col("toks")), k))
    val wins = toks.select(col("id"), posexplode(wf).as(Seq("pos", "h")))
    val byH = Window.partitionBy(col("h"))
    val keepFirst = Window.partitionBy(col("h")).orderBy(col("id").asc, col("pos").asc)
    val cuts = wins
      .withColumn("n", count(lit(1)).over(byH))
      .withColumn("rn", row_number().over(keepFirst))
      .where(col("n") > 1L && col("rn") > 1)
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("cuts"))
    toks
      .join(cuts, Seq("id"), "left")
      // the sorted cut list folds into MAXIMAL intervals first: a
      // heavily duplicated doc (the clone worst case — every window
      // cut) collapses to one interval, so coverage is O(tokens x
      // merged-intervals), not O(tokens x cuts). Merging never changes
      // the covered set — the oracle mirrors raw-cut coverage.
      .withColumn("spans", expr(
        "aggregate(coalesce(cuts, array()), " +
          "cast(array() as array<struct<s: int, e: int>>), (acc, c) -> " +
          "CASE WHEN size(acc) > 0 AND c <= element_at(acc, -1).e " +
          s"THEN concat(slice(acc, 1, size(acc) - 1), " +
          s"array(named_struct('s', element_at(acc, -1).s, 'e', greatest(element_at(acc, -1).e, c + $k)))) " +
          s"ELSE concat(acc, array(named_struct('s', c, 'e', c + $k))) END)"))
      .withColumn("kept", expr(
        "CASE WHEN cuts IS NULL THEN toks " +
          "ELSE filter(toks, (t, i) -> NOT exists(spans, m -> m.s <= i AND i < m.e)) END"))
      .select(col("id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        GraftBridge.column(graft.expr.RollingFingerprint(
          GraftBridge.expression(col("kept")))).as("kept_fp"))
      .orderBy(col("id"))
  }

  /** Span-level eval-set DECONTAMINATION — the cut form of
    * `contaminationScreen`: every `k`-token window of the corpus that
    * appears ANYWHERE in the benchmark set is removed from its doc
    * (all occurrences — a leaked test item must not survive in any
    * copy), keeping the surrounding unique prose instead of dropping
    * whole documents. The benchmark side reduces to a DISTINCT window-
    * hash set (benchmark-sized, broadcast by AQE); the corpus pays one
    * window pass and a hash semi-join — it never self-joins and its
    * text never shuffles. Same interval-merged coverage and survivor
    * fingerprint as `removeDupSpans`. */
  def decontaminateSpans(
      docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    def wf(c: Column) = GraftBridge.column(graft.expr.WindowFingerprints(
      GraftBridge.expression(Analyzer.tokens(c)), k))
    val toks = docs.select(
      col(idCol).as("id"), Analyzer.tokens(col(textCol)).as("toks"))
    val benchH = benchmark.select(explode(wf(col(benchTextCol))).as("h")).distinct()
    val cuts = docs.select(col(idCol).as("id"), posexplode(wf(col(textCol))).as(Seq("pos", "h")))
      .join(benchH, Seq("h"), "left_semi")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("cuts"))
    toks
      .join(cuts, Seq("id"), "left")
      .withColumn("spans", expr(
        "aggregate(coalesce(cuts, array()), " +
          "cast(array() as array<struct<s: int, e: int>>), (acc, c) -> " +
          "CASE WHEN size(acc) > 0 AND c <= element_at(acc, -1).e " +
          s"THEN concat(slice(acc, 1, size(acc) - 1), " +
          s"array(named_struct('s', element_at(acc, -1).s, 'e', greatest(element_at(acc, -1).e, c + $k)))) " +
          s"ELSE concat(acc, array(named_struct('s', c, 'e', c + $k))) END)"))
      .withColumn("kept", expr(
        "CASE WHEN cuts IS NULL THEN toks " +
          "ELSE filter(toks, (t, i) -> NOT exists(spans, m -> m.s <= i AND i < m.e)) END"))
      .select(col("id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        GraftBridge.column(graft.expr.RollingFingerprint(
          GraftBridge.expression(col("kept")))).as("kept_fp"))
      .orderBy(col("id"))
  }

  /** Unigram-LM quality score — mean token surprisal -ln p(t) under
    * the corpus's own unigram distribution (the cheap, trainable-
    * nowhere stand-in for perplexity filtering; high = rare-token
    * docs). Pass 1: one partial-aggregating term-count (vocabulary-
    * sized, not corpus-sized). Pass 2: tokens re-joined to the count
    * table on term — AQE broadcasts it while the vocabulary fits,
    * shuffle-joins beyond that — then one per-doc aggregate. Per-token
    * surprisals go through DECIMAL so the per-doc sum is
    * aggregation-order independent. */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    unigramSurprisalUnsorted(docs, idCol, textCol).orderBy(col("id"))

  /** The pipeline-facing form: no presentation sort. Consumers that
    * re-aggregate or join the score frame (CCNet buckets, the training
    * build) pay a full range exchange for nothing if the frame comes
    * back sorted — the r17 job audit measured the sort as pure waste
    * on those paths. */
  def unigramSurprisalUnsorted(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(Analyzer.tokens(col(textCol))).as("term"))
    val counts = toks.groupBy(col("term")).agg(count(lit(1)).as("ct"))
    val total = counts.agg(sum(col("ct")).as("tt"))
    toks
      .join(counts, Seq("term"))
      .crossJoin(broadcast(total))
      .select(col("id"),
        (-log(col("ct").cast("double") / col("tt").cast("double")))
          .cast("decimal(28,12)").as("srp"))
      .groupBy(col("id"))
      .agg(Num.round(
        sum(col("srp")).cast("double") / count(lit(1)), 4).as("surprisal"))
  }

  /** Domain-mix rebalancing weights: per-source document share and the
    * per-doc sampling weight that would flatten the mix to a uniform
    * target (weight = target_share / actual_share, the standard
    * mixture-reweighting step before temperature sampling). One
    * partial-aggregating pass + scalar math on the tiny per-source
    * frame. */
  def domainMixWeights(docs: DataFrame, sourceCol: String): DataFrame = {
    // truncated for the same two-consumer reason as the alpha form
    val counts = graft.util.Stages.truncate(
      docs.groupBy(col(sourceCol).as("source"))
        .agg(count(lit(1)).as("n_docs")))
    val totals = counts.agg(
      sum(col("n_docs")).cast("double").as("total"),
      count(lit(1)).cast("double").as("n_sources"))
    counts
      .crossJoin(broadcast(totals))
      .select(
        col("source"), col("n_docs"),
        Num.round(col("n_docs") / col("total"), 4).as("share"),
        Num.round((lit(1.0) / col("n_sources")) /
          (col("n_docs") / col("total")), 4).as("weight"))
      .orderBy(col("source"))
  }

  /** Temperature-mix weights, the GENERAL alpha form (the mT5/XLM-R
    * multilingual sampling recipe: target share ∝ share^alpha,
    * alpha ∈ (0, 1] — alpha 1 keeps the natural mix, alpha → 0
    * approaches uniform; mixSample below is the alpha = 0.5 special
    * case in keep-rate form). Per-doc sampling weight =
    * target_share / natural_share. One partial-aggregated pass over
    * the corpus; the power/normalization math runs on the
    * |sources|-row frame, broadcast back — nothing corpus-sized
    * shuffles twice. */
  def domainMixWeightsAlpha(docs: DataFrame, sourceCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"temperature exponent alpha must be in (0, 1]: $alpha")
    // the |sources|-row count frame feeds THREE consumers (share,
    // Z-normalizer, final projection) — truncated so the corpus scans
    // ONCE, not once per consumer (PlanCount 4 -> 1)
    val counts = graft.util.Stages.truncate(
      docs.groupBy(col(sourceCol).as("source"))
        .agg(count(lit(1)).as("n_docs")))
    val totals = counts.agg(sum(col("n_docs")).cast("double").as("total"))
    val shared = counts.crossJoin(broadcast(totals))
      .withColumn("share", col("n_docs") / col("total"))
    val z = shared.agg(sum(pow(col("share"), alpha)).as("z"))
    shared.crossJoin(broadcast(z))
      .select(
        col("source"), col("n_docs"),
        Num.round(col("share"), 4).as("share"),
        Num.round(pow(col("share"), alpha) / col("z"), 4).as("target_share"),
        Num.round(pow(col("share"), alpha) / col("z") / col("share"), 4).as("weight"))
      .orderBy(col("source"))
  }

  /** Temperature-flattened mix sampling (T = 2): per-source keep rate
    * `sqrt(n_min / n_s)` — the T=2 case of "target share ∝ share^(1/T)"
    * with the rarest source kept whole, i.e. the standard flattening
    * used to rebalance a skewed source mix. The draw is the repo-wide
    * deterministic content hash (reproducible across retries and
    * partitionings, oracle-mirrorable); sqrt and the power-of-two
    * hash division are both IEEE-exact, so the keep decision is
    * bit-deterministic. The per-source rate frame is \|sources\| rows
    * broadcast back; the filter is a narrow codegen'd pass. */
  def mixSample(docs: DataFrame, sourceCol: String, idCol: String): DataFrame = {
    val counts = docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val nMin = counts.agg(min(col("n_docs")).as("n_min"))
    val rates = counts.crossJoin(broadcast(nMin))
      .select(col("source").as("_msrc"),
        sqrt(col("n_min").cast("double") / col("n_docs").cast("double")).as("rate"))
    docs
      .join(broadcast(rates), col(sourceCol) === col("_msrc"))
      .where(Num.uniformHash48(concat(lit("mix:"), col(idCol))) < col("rate"))
      .groupBy(col("_msrc").as("source"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** Corpus n-gram heavy hitters: document frequency of every
    * distinct n-gram, top-k. The LLM-pipeline use is boilerplate
    * mining — the highest-df n-grams ARE the shared templates that
    * near-dup families repeat (cookie banners, license headers), and
    * the resulting list feeds stop-shingle filtering upstream of
    * MinHash.
    *
    * Shape: one narrow compiled shingle pass per doc
    * (expr.TokenShingles — per-doc DISTINCT, so counts are document
    * frequencies) + explode + ONE partial-aggregating groupBy. The
    * exchange carries (ngram, partial-count) pairs bounded by
    * per-partition vocabulary, never token streams; top-k is a
    * TakeOrderedAndProject over the vocabulary frame. At 100 TB the
    * vocabulary exchange is the cost — a count-min sketch would cap
    * it, at the price of the oracle-exact counts this one keeps. */
  def ngramTopK(docs: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    docs.select(explode(Analyzer.shingles(Analyzer.tokens(col(textCol)), n)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("ngram"))
      .limit(k)

  /** Deterministic training-data sharding: doc -> shard
    * md5-48(id) % n. The assignment is PURE map-side column math (the
    * writer's partitionBy column — 1000 executors write n directories
    * with zero coordination, and a rerun lands every doc in the same
    * shard, so downstream dataloader state stays valid). The returned
    * balance report is one partial-aggregated groupBy of n rows:
    * per-shard docs, whitespace-token sum, char sum. */
  def shardAssign(docs: DataFrame, idCol: String, textCol: String,
      nShards: Int): DataFrame = {
    require(nShards >= 2, s"shardAssign needs >= 2 shards (got $nShards)")
    val shard = pmod(
      conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10).cast("long"),
      lit(nShards.toLong))
    docs
      .groupBy(shard.as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(filter(split(col(textCol), "\\s+"), t => length(t) > 0))
          .cast("long")).as("tokens"),
        sum(length(col(textCol)).cast("long")).as("chars"))
      .orderBy(col("shard"))
  }

  /** Tokenizer fertility report per language: docs, whitespace-token
    * and BPE-ish-token sums, chars, and tokens-per-1k-chars — the
    * "how expensive is this language to tokenize" table a mixing
    * policy reads before setting per-language budgets. One map-only
    * token count folded into a single partial-aggregated groupBy. */
  def tokenStatsByLang(docs: DataFrame, langCol: String, textCol: String): DataFrame = {
    val counts = tokenCounts(col(textCol)).toMap
    docs
      .groupBy(col(langCol).as("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(counts("ws_tokens")).as("ws_tokens"),
        sum(counts("bpe_tokens")).as("bpe_tokens"),
        sum(length(col(textCol)).cast("long")).as("chars"))
      .withColumn("bpe_per_kchar",
        Num.round(col("bpe_tokens").cast("double") /
          col("chars").cast("double") * 1000.0, 4))
      .orderBy(col("lang"))
  }

  /** The composed TRAINING-DATA build (ONE definition — the oracle
    * key and the scale probe share it): exact-dedup keep (min id per
    * content hash) -> quality gate -> CCNet tail-tercile drop
    * (surprisal terciles of the KEPT set) -> deterministic shard
    * balance report.
    *
    * Stage 1 is Dedup.exactDedupKeep — (hash, id) rows on the
    * exchange, drop ids broadcast into a left_anti join, text never
    * shuffled (see its scaladoc for the 100 TB arithmetic).
    *
    * Stage boundaries materialize through Stages.truncate (reliable
    * checkpoint when a checkpoint dir is configured, eager
    * localCheckpoint otherwise — the dedupClusters recipe): the kept
    * frame feeds FOUR consumers (both surprisal branches, the edge
    * pass, the final join) and the score frame three — left lazy, the
    * dedup stage would recompute ~6x (measured: 7.9 s -> 2.5 s at
    * sf0.1). */
  def trainingBuildReport(docs: DataFrame, idCol: String, textCol: String,
      qualityMin: Double, nShards: Int): DataFrame = {
    import graft.util.Stages
    val deduped = graft.dedup.Dedup.exactDedupKeep(docs, idCol, textCol)
    val kept = Stages.truncate(
      qualityScore(col(textCol))(deduped).where(col("quality") >= qualityMin))
    val srp = Stages.truncate(unigramSurprisalUnsorted(kept, idCol, textCol))
    val e2 = Num.roundDouble(
      graft.agg.Aggs.percentilesExactDistributed(
        srp, "surprisal", Seq("e2" -> (2.0 / 3))).head().getDouble(0), 4)
    val headMid = kept.join(
      srp.where(col("surprisal") < e2).select(col("id").as("__kid")),
      col(idCol) === col("__kid")).drop("__kid")
    shardAssign(headMid, idCol, textCol, nShards)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020) over a
    * scored frame (a `surprisal` column — the per-doc unigram LM score
    * `unigramSurprisal` computes): split into head/middle/tail THIRDS
    * by the corpus-wide score terciles — the published recipe keeps
    * `head` (lowest perplexity) and drops or down-weights `tail`.
    * Tercile edges come from the distributed-exact percentile (one
    * sort-selection over the N-row score frame, never a single-reducer
    * merge); the bucket key is then map-side math, and the report is
    * one n-bucket groupBy. Edges round to 4 dp so the cut is
    * engine-portable. The edge pass and the bucket pass both read
    * `scored`, so a caller that materialized it (a composed pipeline,
    * or a `Stages.truncate`d frame) pays one corpus scan. */
  def ccnetBucketsScored(scored: DataFrame): DataFrame = {
    val edges = graft.agg.Aggs.percentilesExactDistributed(
      scored, "surprisal", Seq("e1" -> (1.0 / 3), "e2" -> (2.0 / 3))).head()
    val (e1, e2) = (Num.roundDouble(edges.getDouble(0), 4),
      Num.roundDouble(edges.getDouble(1), 4))
    val s = col("surprisal")
    scored
      .groupBy(when(s < e1, "head").when(s < e2, "middle").otherwise("tail")
        .as("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        Num.round(avg(s), 4).as("avg_surprisal"))
      .orderBy(col("bucket"))
  }
}
