package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for a training-data pipeline: token counting,
 * quality scoring, language identification, document fingerprinting.
 *
 * All pure `Column` compositions over higher-order array functions — no
 * UDFs, so every operator distributes trivially and the scan keeps its
 * pushdown/pruning. Tokenization is a plain single-space split to stay
 * bit-identical with the SQL oracle.
 */
object Text {

  /** Marker stopwords per language, checked in this fixed preference
   * order (deterministic argmax tie-break). */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有"))

  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish lexer: runs of alphanumerics, or single non-space symbols.
   * Explicit character classes (not \w) so Java and RE2 agree. */
  val TokenRegex = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"

  /** Whitespace token count + regex (BPE-ish) token count. */
  def tokenCount(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("ws_tokens", size(tokens(col(textCol))))
      .withColumn("re_tokens", size(regexp_extract_all(col(textCol), lit(TokenRegex), lit(0))))

  /**
   * Per-stratum token FERTILITY profile — the aggregate tokenizer/
   * mixture-design report the per-doc counters don't give: for each
   * stratum (language, source), docs, total tokens under both lexers,
   * tokens-per-doc, chars-per-(BPE-ish)-token, and the
   * fertility ratio re/ws (how many subword-ish pieces a whitespace
   * word splits into — the number multilingual tokenizer papers track,
   * since a high-fertility language pays more sequence length per word
   * and usually earns a larger mixture weight). One partial-agg'd
   * groupBy over a single scan.
   */
  def fertility(df: DataFrame, stratumCol: String, textCol: String): DataFrame = {
    val r3 = (c: Column) => floor(c * 1000 + 0.5) / 1000
    tokenCount(df.filter(col(textCol).isNotNull), textCol)
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("ws_total"),
        sum(col("re_tokens")).as("re_total"),
        sum(length(col(textCol))).as("chars_total"))
      .select(col(stratumCol), col("n_docs"), col("ws_total"), col("re_total"),
        r3(col("ws_total").cast("double") / col("n_docs")).as("tokens_per_doc"),
        r3(col("chars_total").cast("double") / col("re_total")).as("chars_per_token"),
        r3(col("re_total").cast("double") / col("ws_total")).as("fertility"))
  }

  /**
   * Heuristic quality signals: char/token counts, average token length,
   * punctuation ratio, stopword ratio, and a [0,1] composite score
   * (long-enough + stopword-bearing + low-punctuation text scores high).
   */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTokens = size(toks)
    val stopHits = size(filter(toks, tk => tk.isin(Markers.head._2: _*)))
    df.withColumn("n_chars", length(t))
      .withColumn("n_tokens", nTokens)
      .withColumn("avg_token_len",
        length(t).cast("double") / nTokens)
      // explicit zero-guard: under ANSI semantics a bare x/0 THROWS, so
      // one empty-string doc would kill a whole pass; an empty doc has
      // no punctuation, so 0.0 is the honest value
      .withColumn("punct_ratio",
        when(length(t) === 0, lit(0.0)).otherwise(
          length(regexp_replace(t, "[A-Za-z0-9 ]", "")).cast("double") / length(t)))
      .withColumn("stopword_ratio", stopHits.cast("double") / nTokens)
      .withColumn("quality_score",
        least(lit(1.0), col("n_tokens") / 32.0) * 0.5 +
          least(lit(1.0), col("stopword_ratio") * 4) * 0.3 +
          (lit(1.0) - least(lit(1.0), col("punct_ratio") * 4)) * 0.2)
  }

  /**
   * N-gram/stopword language ID: count marker-token hits per language,
   * pick the max (ties resolved by [[Markers]] order); no hits → "und".
   */
  def languageId(df: DataFrame, textCol: String, outCol: String = "lang_id"): DataFrame = {
    // tokenize ONCE into a materialized column: inlining the split into
    // each language's filter made every language re-split the text
    // (5× the work; CollapseProject keeps a multiply-referenced non-cheap
    // expression in its own Project, so this genuinely computes once)
    val tokCol = "__lang_toks"
    val toks = col(tokCol)
    val scored = Markers.foldLeft(df.withColumn(tokCol, tokens(col(textCol)))) {
      case (acc, (lang, words)) =>
        acc.withColumn(s"score_$lang", size(filter(toks, tk => tk.isin(words: _*))))
    }
    val langs = Markers.map(_._1)
    val best = langs.map(l => col(s"score_$l")).reduce((a, b) => greatest(a, b))
    val pick = langs.foldRight(lit("und"): Column) { (l, els) =>
      when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(els)
    }
    scored.withColumn(outCol, pick)
      .drop(tokCol +: langs.map(l => s"score_$l"): _*)
  }

  /**
   * CLD-lite per-language profiles: space-padded marker words and
   * character n-grams with MILLI-INTEGER weights (one table drives the
   * Spark operator AND, as literal constants, the SQL oracle — the
   * [[PiiPatterns]] one-source-of-truth convention). Pattern hits are
   * substring counts over the padded text, so a profile row can be a
   * whole word (" the ") or an affix n-gram ("sch") with one mechanism;
   * weights are positive integers, so scores are EXACT integers and the
   * argmax/margin are engine-reproducible with no float compare.
   */
  val LangProfiles: Seq[(String, Seq[(String, Int)])] = Seq(
    "en" -> Seq(" the " -> 1000, " a " -> 600, " and " -> 1000, " of " -> 800,
      " is " -> 700, "th" -> 150, "ing " -> 300),
    "de" -> Seq(" der " -> 1000, " die " -> 1000, " und " -> 1000,
      " ist " -> 800, "sch" -> 300, "ei" -> 120, "en " -> 100),
    "fr" -> Seq(" le " -> 1000, " la " -> 900, " et " -> 900, " les " -> 900,
      " est " -> 700, "ou" -> 120, "eau" -> 300),
    "es" -> Seq(" el " -> 1000, " los " -> 900, " que " -> 800, " y " -> 900,
      " es " -> 700, "ci" -> 120, "ar " -> 150),
    "zh" -> Seq("的" -> 1000, "是" -> 900, "了" -> 900, "在" -> 800,
      "和" -> 800))

  /**
   * N-way scored language ID (CLD-lite): per-language log-odds-style
   * score = Σ substring-count(pattern) × weight over [[LangProfiles]],
   * argmax with a CONFIDENCE MARGIN — the number a corpus mixture
   * planner thresholds on where [[languageId]]'s bare argmax cannot
   * distinguish "clearly English" from "barely more English than
   * French". Output per doc: `lang_pred` (profile-order tie-break,
   * "und" when no profile fires), `score_milli` (winner's score),
   * `margin_milli` (winner − runner-up; 0 for "und").
   *
   * Each pattern count is the classic replace-and-measure substring
   * count — (len(padded) − len(replace(padded, p, ''))) / len(p) —
   * a codegen'd scalar chain: map-only, no UDF, no shuffle; 100 TB
   * costs exactly the scan. Profile size is bounded (≈35 patterns), so
   * the per-row work is a constant ~35 substring scans of the text.
   */
  def languageIdScored(df: DataFrame, textCol: String): DataFrame = {
    val padded = concat(lit(" "), coalesce(col(textCol), lit("")), lit(" "))
    def count(p: String): Column =
      ((length(padded) - length(replace(padded, lit(p)))) / p.length).cast("long")
    val scored = LangProfiles.foldLeft(df) { case (acc, (lang, pats)) =>
      acc.withColumn(s"__s_$lang",
        pats.map { case (p, w) => count(p) * w }.reduce(_ + _))
    }
    val langs = LangProfiles.map(_._1)
    val scores = langs.map(l => col(s"__s_$l"))
    val best = scores.reduce((a, b) => greatest(a, b))
    val pick = langs.foldRight(lit("und"): Column) { (l, els) =>
      when(col(s"__s_$l") === best && best > 0, lit(l)).otherwise(els)
    }
    // runner-up: max over each language of (its score unless it IS the
    // picked one) — ties give runner-up == best, margin 0, which is the
    // honest confidence for a tie
    val second = langs.map(l =>
      when(lit(l) === pick, lit(Long.MinValue)).otherwise(col(s"__s_$l")))
      .reduce((a, b) => greatest(a, b))
    scored
      .withColumn("lang_pred", pick)
      .withColumn("score_milli", when(best > 0, best).otherwise(lit(0L)))
      .withColumn("margin_milli",
        when(best > 0, best - greatest(second, lit(0L))).otherwise(lit(0L)))
      .drop(langs.map(l => s"__s_$l"): _*)
  }

  /** PII patterns shared by the Spark operator and the SQL oracle —
   * explicit character classes only (no \d/\w) so Java regex and RE2
   * tokenize identically. Applied in list order. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "<IP>",
    "\\+?[0-9][0-9()\\- ]{6,}[0-9]" -> "<PHONE>")

  /**
   * Redact common PII (emails, IPv4 addresses, phone-like digit runs)
   * from a text column — a standard pre-training scrub pass. Pure
   * `regexp_replace` chain: codegen'd, no UDF, order deterministic.
   */
  def redactPii(df: DataFrame, textCol: String,
                outCol: String = "redacted"): DataFrame =
    df.withColumn(outCol, PiiPatterns.foldLeft(col(textCol)) {
      case (c, (pat, repl)) => regexp_replace(c, pat, repl)
    })

  /** URL pattern shared with the SQL oracle — no quotes/backslash classes
   * so the literal embeds identically in Java regex and RE2. */
  val UrlRegex = "https?://[^ ]+"
  /** Host part of the first URL (capture group 1). */
  val UrlDomainRegex = "https?://([^/ ]+)"

  /**
   * URL signals for corpus curation: URL count per document and the first
   * URL's domain (empty string when none — the regexp_extract no-match
   * convention in both Spark and DuckDB).
   */
  def urlStats(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_urls",
        size(regexp_extract_all(col(textCol), lit(UrlRegex), lit(0))))
      .withColumn("first_domain",
        regexp_extract(col(textCol), UrlDomainRegex, 1))

  /**
   * Ordered URL-canonicalization rewrites — the crawl-dedup scrub that
   * collapses the cosmetic variants of one resource before URL-keyed
   * dedup/frontier accounting: fragment strip, tracking-parameter strip
   * (utm_*, fbclid, gclid) with separator repair, default-port strip,
   * trailing-slash strip. One source of truth for Spark AND the DuckDB
   * oracle (the [[PiiPatterns]] convention): patterns avoid
   * lookaround/backrefs so Java regex and RE2 agree; replacements use
   * Java `$n` — the oracle generator rewrites them to RE2 `\n`.
   * Deliberately NOT done: query-param sorting and host lowercasing
   * (not regex-expressible without risking path-case damage); a
   * frontier needing those normalizes upstream.
   */
  val UrlCanonPatterns: Seq[(String, String)] = Seq(
    "#.*$" -> "",
    "([?&])(?:utm_[a-z]+|fbclid|gclid)=[^&#]*" -> "$1",
    "\\?&" -> "?",
    "&&+" -> "&",
    "[?&]+$" -> "",
    "^(https?://[^/?#:]*):(?:80|443)([/?]|$)" -> "$1$2",
    "/$" -> "")

  /** Apply [[UrlCanonPatterns]] — a codegen'd `regexp_replace` chain. */
  def canonicalizeUrl(url: Column): Column =
    UrlCanonPatterns.foldLeft(url) {
      case (c, (pat, repl)) => regexp_replace(c, pat, repl)
    }

  /**
   * Repetition metrics (Gopher-style quality signals): fraction of
   * duplicate word bigrams / trigrams — boilerplate and generated spam
   * repeat n-grams far more than natural text.
   */
  /**
   * Gopher-style document quality rules (Rae et al. '21 §A1.1, the
   * standard pre-training filter battery), one boolean per rule plus
   * the conjunction — run AFTER [[qualityScore]]'s soft score to make
   * the hard keep/drop call:
   *
   *  - word count within [minWords, maxWords]
   *  - mean word length within [minMeanWordLen, maxMeanWordLen]
   *  - '#'/ellipsis symbols per word ≤ maxSymbolRatio
   *  - lines starting with a bullet ≤ maxBulletFrac of lines
   *  - lines ending in an ellipsis ≤ maxEllipsisFrac of lines
   *  - words containing an alphabetic char ≥ minAlphaFrac of words
   *  - at least `minStopHits` distinct common English stop words
   *
   * Everything is whitespace-token / line arithmetic over one
   * projection — no shuffle, no UDF; counts are exact integers and each
   * ratio is a single division, so any engine reproduces the booleans
   * bit-for-bit.
   */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
                  maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
                  minStopHits: Int = 2): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nW = size(toks).cast("double")
    val charSum = aggregate(transform(toks, w => length(w).cast("long")),
      lit(0L), (acc, x) => acc + x).cast("double")
    val hashes = (length(t) - length(replace(t, lit("#"), lit("")))).cast("double")
    val dots = ((length(t) - length(replace(t, lit("..."), lit("")))) / 3 +
      (length(t) - length(replace(t, lit("…"), lit(""))))).cast("double")
    val lines = split(t, "\n")
    val nL = size(lines).cast("double")
    val bullets = size(filter(lines, l =>
      l.startsWith("-") || l.startsWith("*") || l.startsWith("•"))).cast("double")
    val ellipses = size(filter(lines, l =>
      l.endsWith("...") || l.endsWith("…"))).cast("double")
    val alphaW = size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("double")
    // distinct stop words PRESENT: iterate the fixed stop list and test
    // membership (symmetric with an external list_filter/contains loop;
    // array_intersect's dedup semantics vary by engine)
    val stopHits = size(filter(array(GopherStops.map(lit): _*),
      s => array_contains(toks, s)))
    df.select(col(idCol), t.as(textCol))
      .withColumn("n_words", size(toks).cast("long"))
      .withColumn("g_words", col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("g_word_len",
        charSum / nW >= minMeanWordLen && charSum / nW <= maxMeanWordLen)
      .withColumn("g_symbol", (hashes + dots) / nW <= maxSymbolRatio)
      .withColumn("g_bullet", bullets / nL <= maxBulletFrac)
      .withColumn("g_ellipsis", ellipses / nL <= maxEllipsisFrac)
      .withColumn("g_alpha", alphaW / nW >= minAlphaFrac)
      .withColumn("g_stop", stopHits >= minStopHits)
      .withColumn("gopher_pass",
        col("g_words") && col("g_word_len") && col("g_symbol") &&
          col("g_bullet") && col("g_ellipsis") && col("g_alpha") && col("g_stop"))
      .drop(textCol)
  }

  /** Gopher's stop-word membership set (distinct hits gate). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def repetitionRatio(df: DataFrame, textCol: String): DataFrame = {
    def dupFrac(n: Int): Column = {
      val grams = wordShingles(col(textCol), n)
      when(size(grams) > 0,
        (size(grams) - size(array_distinct(grams))).cast("double") / size(grams))
        .otherwise(lit(0.0))
    }
    df.withColumn("dup_bigram_frac", dupFrac(2))
      .withColumn("dup_trigram_frac", dupFrac(3))
  }

  /**
   * Benchmark decontamination: flag documents sharing at least
   * `minOverlap` word n-grams with any probe document (e.g. an eval
   * set). Standard pre-training hygiene — train/test contamination is
   * detected by n-gram collision, not exact match.
   *
   * The probe side is small by construction → its exploded shingle set
   * broadcasts; the corpus side is scanned once, hashed by the
   * [[graft.expressions.HashedShingles]] kernel, and never shuffled.
   * Returns (id, n_hits, contaminated).
   */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    probes: DataFrame, probeTextCol: String,
                    n: Int = 8, minOverlap: Int = 1): DataFrame = {
    import graft.functions.Hashing
    val probeShingles = probes
      .select(explode(Hashing.hashedShingles(col(probeTextCol), n)).as("s"))
      .distinct()
    val hits = docs
      .select(col(idCol).as("id"),
        explode(Hashing.hashedShingles(col(textCol), n)).as("s"))
      .join(broadcast(probeShingles), "s")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") >= minOverlap)
  }

  /**
   * [[contamination]] for probe sets too big to broadcast-join: the full
   * eval-suite shingle set at 100 TB scale is tens of millions of
   * n-grams — past the broadcast ceiling but well inside a Bloom filter
   * (~1.2 bytes/item at 1% FP). The corpus side's exploded shingles are
   * bloom-prefiltered MAP-SIDE (via [[graft.operators.Skew.bloomJoin]]'s
   * kernel — Spark's own BloomFilterAggregate riding a scalar subquery),
   * so only the ~hit fraction ever shuffles into the exact confirm join;
   * false positives are removed there, making the result EXACTLY
   * [[contamination]]'s — the same oracle asserts both plans.
   */
  def contaminationLarge(docs: DataFrame, idCol: String, textCol: String,
                         probes: DataFrame, probeTextCol: String,
                         n: Int = 8, minOverlap: Int = 1,
                         expectedItems: Long = 1000000L,
                         numBits: Long = 8L * 1024 * 1024): DataFrame = {
    import graft.functions.Hashing
    val probeShingles = probes
      .select(explode(Hashing.hashedShingles(col(probeTextCol), n)).as("s"))
      .distinct()
    val corpusShingles = docs
      .select(col(idCol).as("id"),
        explode(Hashing.hashedShingles(col(textCol), n)).as("s"))
    val hits = graft.operators.Skew
      .bloomJoin(corpusShingles, probeShingles, "s", expectedItems, numBits)
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") >= minOverlap)
  }

  /**
   * Sequence packing for pretraining: assign documents to contiguous
   * token-budget bins (`pack_id`) — consecutive docs (in `orderCol`
   * order, within a shard) share a pack until the running token count
   * crosses the budget. A doc that straddles the boundary belongs to the
   * pack its first token falls in (packs may overshoot by < one doc —
   * the standard greedy-contiguous definition).
   *
   * Scale posture: packing is inherently sequential, so it runs PER
   * SHARD (`shardCol`) — one window per shard, shards packed in
   * parallel. A global pack order would funnel the corpus through one
   * partition.
   */
  /**
   * Length-bucketed batch assembly (sorted/dynamic batching): within
   * each shard, documents sort by length and consecutive `batchSize`
   * docs form a batch, so batch-mates have near-equal lengths and the
   * pad-to-longest waste `n·max_len − Σlen` collapses — the training
   * dataloader trick (bucketed batching) pushed into the corpus build,
   * where at 100 TB it belongs (shuffling then bucketing per epoch
   * re-reads the corpus; batching once at curation time does not).
   * Returns one row per batch with the padding-waste accounting the
   * curation report tracks. Same scale contract as [[packSequences]]:
   * one window PER SHARD, shards in parallel, no global order.
   */
  def lengthBatches(df: DataFrame, shardCol: String, idCol: String,
                    lenCol: String, batchSize: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shardCol).orderBy(col(lenCol).asc, col(idCol).asc)
    // NULL lengths are excluded EXPLICITLY: Spark sorts NULLS FIRST
    // ascending while DuckDB sorts them last, so a NULL-length doc (null
    // text) would silently shift every batch boundary differently per
    // engine — and a doc with no measurable length has no place in a
    // pad-to-longest batch anyway
    df.filter(col(lenCol).isNotNull)
      .withColumn("_rn", row_number().over(w))
      .withColumn("batch_id", ((col("_rn") - 1) / batchSize).cast("long"))
      .groupBy(col(shardCol), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col(lenCol)).as("max_len"),
        sum(col(lenCol)).as("sum_len"))
      .withColumn("padding_waste",
        col("n_docs") * col("max_len") - col("sum_len"))
  }

  def packSequences(df: DataFrame, shardCol: String, orderCol: String,
                    tokenCountCol: String, budget: Long,
                    outCol: String = "pack_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shardCol).orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn(outCol,
      floor(coalesce(sum(col(tokenCountCol)).over(w), lit(0L)) / budget))
  }

  /**
   * Materialize packed sequences: concatenate each pack's documents (in
   * `orderCol` order) into one training row. Deterministic assembly —
   * collect_list is unordered under parallel merge, so the list is
   * sorted on the order key before joining. Pack sizes are bounded by
   * the token budget upstream, so per-row memory is bounded too.
   */
  def concatPacked(packed: DataFrame, shardCol: String, packCol: String,
                   orderCol: String, textCol: String,
                   sep: String = " "): DataFrame =
    packed.groupBy(col(shardCol), col(packCol))
      .agg(
        count(lit(1)).as("n_docs"),
        array_join(
          transform(
            array_sort(collect_list(struct(col(orderCol).as("o"), col(textCol).as("t")))),
            x => x.getField("t")),
          sep).as("packed_text"))

  /**
   * Unigram language-model score: mean over tokens of
   * ln(corpus_count(token) / corpus_total) — the CCNet-style fluency
   * proxy (rare-token-heavy junk scores low). Corpus stats are one
   * partial-agg groupBy; the per-doc join keys on the token (high
   * cardinality); the corpus total rides along as a broadcast
   * single-row frame.
   */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                     carryCols: Seq[String] = Seq.empty): DataFrame = {
    // carryCols ride the per-doc aggregation key: id is unique per doc,
    // so adding doc-functional columns (e.g. lang) changes no group and
    // costs only their bytes in the one partial-agg'd exchange — where a
    // caller that joined them back on id would pay TWO more full-
    // cardinality exchanges of incompressible distinct ids (measured
    // 68 MB vs the kernel's own 1.7 MB at the 50× tier before
    // perplexityBuckets switched to this passthrough)
    val toks = docs.select(col(idCol).as("id") +:
      carryCols.map(col) :+ explode(tokens(col(textCol))).as("token"): _*)
    val counts = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = counts.select(sum("cnt").as("total"))
    // the vocab side is EXPLICITLY broadcast, like `total`: after its
    // partial-agg it is Heaps'-law bounded (vocab ~ √corpus — megabytes
    // where the corpus is terabytes), but Catalyst's size ESTIMATE for
    // the aggregate inherits the exploded child's and can cross the
    // auto-broadcast threshold, planning a sort-merge join whose
    // probe-side exchange materializes the ENTIRE exploded token stream
    // before AQE's broadcast conversion can save it (measured 650 MB
    // raw / 78 MB written for a 1,526-token vocab at the 50× tier —
    // the whole shuffle superlinearity of the old q_ppl_buckets table
    // row). A corpus with adversarial token cardinality should prune
    // its vocab upstream rather than un-broadcast this join.
    toks.join(broadcast(counts), "token")
      .crossJoin(broadcast(total))
      .groupBy("id", carryCols: _*)
      .agg(avg(log(col("cnt").cast("double") / col("total"))).as("logprob"))
  }

  /**
   * CROSS-corpus LM quality scoring (the CCNet shape, Wenzek et al.
   * 2020): train an add-k-smoothed unigram LM on a REFERENCE corpus
   * (Wikipedia-grade text), score TARGET docs by mean token log-prob —
   * crawl pages that read like the reference score high, boilerplate
   * and junk score low. Unlike [[unigramLogProb]] (which scores a
   * corpus against itself and so drifts with the junk it contains),
   * the reference model is fixed, making scores comparable across
   * target snapshots.
   *
   * Smoothing: P(t) = (c_t + k) / (total + k·(V+1)) with c_t = 0 for
   * out-of-reference tokens (the +1 pools all unseen mass into one
   * pseudo-type). Model stats are one partial-agg pass over the
   * reference; scoring is one token-keyed LEFT join from the exploded
   * target stream (reference side aggregated — far smaller than either
   * corpus) + one per-doc avg; denominators ride a broadcast single-row
   * frame. Emits `(id, n_tokens, n_oov_ref, logprob)`; empty/null-text
   * docs keep a row with nulls, never vanish.
   */
  def lmCrossScore(reference: DataFrame, target: DataFrame,
                   idCol: String, textCol: String,
                   addK: Double = 0.1): DataFrame = {
    require(addK > 0, "lmCrossScore needs addK > 0")
    val refCounts = reference
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val model = refCounts.agg(sum("cnt").as("total"),
      count(lit(1)).as("v"))
    val toks = target.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("token"))
    val scored = toks
      .join(refCounts, Seq("token"), "left")
      .crossJoin(broadcast(model))
      .groupBy("id").agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_oov_ref"),
        avg(log((coalesce(col("cnt"), lit(0L)) + addK) /
          (col("total") + lit(addK) * (col("v") + lit(1L))))).as("logprob"))
    target.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .select(col("id"), col("n_tokens"), col("n_oov_ref"), col("logprob"))
  }

  /**
   * Vocabulary build: global token counts, ranked. `minCount` prunes the
   * long tail before the single-partition ranking: the aggregation is
   * map-side-combined per token (high cardinality, balanced), and only
   * the surviving vocabulary — far smaller than the corpus — is sorted.
   */
  /** Ranked corpus vocabulary `(token, n, rank)`, rank by (count desc,
   * token asc). Two physical paths, same values:
   *  - `maxRank = Some(n)` (the top-N consumer shape — [[oovRate]]): a
   *    rank window + filter, which Catalyst rewrites to
   *    TakeOrderedAndProject below the window — per-partition top-N +
   *    an N-row merge, the window never sees more than N rows;
   *  - `maxRank = None` (the FULL vocabulary artifact): a global
   *    unpartitioned window would funnel the entire vocabulary through
   *    one task and no pushdown applies when all ranks are wanted —
   *    [[Analytics.globalRowNumber]] assigns ranks over a distributed
   *    range-partitioned sort instead. */
  def vocabulary(docs: DataFrame, textCol: String, minCount: Long = 2L,
                 maxRank: Option[Int] = None): DataFrame = {
    val counts = docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    maxRank match {
      case Some(k) =>
        // filter the RAW rank directly above the window (the cast would
        // hide the rank from the TakeOrderedAndProject rewrite), cast
        // after so both paths share the long-rank schema
        counts
          .withColumn("rank",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("n").desc, col("token").asc)))
          .filter(col("rank") <= k)
          .withColumn("rank", col("rank").cast("long"))
      case None =>
        Analytics.globalRowNumber(counts,
          Seq(col("n").desc, col("token").asc))
    }
  }

  /**
   * Per-document out-of-vocabulary rate against the corpus' own top-N
   * vocabulary — the tokenizer-QA screen (a doc whose tokens mostly miss
   * the vocabulary is boilerplate, another language, or binary junk;
   * batch-level OOV drift flags a stale vocab).
   *
   * The top-N vocab is tiny by construction, so membership is a
   * BROADCAST left join against the exploded token stream — the corpus
   * shuffles once (the per-doc count agg), never on the vocab side.
   */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
              topN: Int = 100): DataFrame = {
    val vocab = vocabulary(docs, textCol, minCount = 1L, maxRank = Some(topN))
      .select(col("token"), lit(1).as("in_vocab"))
    docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(idCol).agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens"))
  }

  /**
   * Adjacent-token co-occurrence with PMI — the phrase-mining /
   * collocation pass (tokenizer evaluation, stop-phrase lists, n-gram LM
   * features) run over a corpus before export.
   *
   * Counts every adjacent bigram (c_xy) and unigram (c_x) in one
   * explode+groupBy each (partial-agg'd, keyed on high-cardinality
   * tokens), joins bigrams to their unigram counts token-keyed, and
   * scores pmi = ln(c_xy·N / (c_x·c_y)). `minCount` prunes the bigram
   * tail BEFORE the joins, so the join input is the distinct-phrase set,
   * not the corpus. The corpus total rides along as a broadcast
   * single-row frame — no driver action.
   */
  def cooccurrence(docs: DataFrame, textCol: String,
                   minCount: Long = 2L): DataFrame = {
    // tokenize ONCE: bigram and unigram counting both read the cached
    // token arrays instead of re-scanning and re-splitting the corpus
    val toked = graft.CacheScope.persist(
      docs.select(tokens(col(textCol)).as("t")))
    val toks = col("t")
    val bigrams = toked.select(explode(
        when(size(toks) >= 2,
          transform(sequence(lit(0), size(toks) - 2),
            i => struct(element_at(toks, i + 1).as("w1"),
              element_at(toks, i + 2).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val big = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= minCount)
    val uni = toked.select(explode(toks).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val total = uni.agg(sum("n").as("n_total"))
    big
      .join(uni.select(col("token").as("w1"), col("n").as("n_x")), "w1")
      .join(uni.select(col("token").as("w2"), col("n").as("n_y")), "w2")
      .crossJoin(broadcast(total))
      .withColumn("pmi",
        log((col("n_xy").cast("double") * col("n_total")) /
          (col("n_x").cast("double") * col("n_y"))))
      .select("w1", "w2", "n_xy", "pmi")
  }

  /**
   * Bigram language-model fluency score with add-k smoothing: mean over
   * a doc's adjacent pairs of ln((c(w1 w2) + k) / (c(w1) + k·V)), V the
   * corpus vocabulary size — the transition-aware upgrade of
   * [[unigramLogProb]] (word salad reusing common TOKENS still scores
   * low because its TRANSITIONS are rare; this is the n-gram half of a
   * CCNet-style fluency filter). Corpus stats are two partial-agg'd
   * token-keyed groupBys; V rides along as a broadcast single-row frame.
   * Docs with fewer than 2 tokens surface with n_bigrams = 0 and a null
   * score — no transitions to judge is not the same as fluent.
   */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    addK: Double = 0.5): DataFrame = {
    val toked = graft.CacheScope.persist(
      docs.select(col(idCol).as("id"), tokens(col(textCol)).as("t")))
    val toks = col("t")
    val pairs = toked.select(col("id"), explode(
        when(size(toks) >= 2,
          transform(sequence(lit(0), size(toks) - 2),
            i => struct(element_at(toks, i + 1).as("w1"),
              element_at(toks, i + 2).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_xy"))
    val uni = toked.select(explode(toks).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("n_x"))
    val vocabSize = uni.agg(count(lit(1)).as("v"))
    val scored = pairs
      .join(big, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocabSize))
      .groupBy("id").agg(
        count(lit(1)).as("n_bigrams"),
        avg(log((col("n_xy") + addK) /
          (col("n_x") + lit(addK) * col("v")))).as("logprob"))
    toked.select("id").join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("logprob"))
  }

  /**
   * Interpolated Kneser–Ney bigram fluency score — the smoothing that
   * actually wins LM evaluations (Chen & Goodman '98), completing the
   * fluency family (add-k unigram row 97, add-k bigram row 129, CCNet
   * cross-corpus row 200): absolute discount D off every seen bigram,
   * the reclaimed mass interpolated against the CONTINUATION unigram
   * P_cont(w2) = N1+(·w2)/|bigram types| — "how many contexts does w2
   * follow", not "how often does w2 occur", which is what stops
   * high-count-but-one-context tokens ("Francisco") from inflating
   * unseen transitions. P(w2|w1) = (max(c(w1w2)−D, 0) +
   * D·N1+(w1·)·P_cont(w2)) / c(w1·); per-doc score = mean ln P over
   * adjacent pairs.
   *
   * All model tables derive from ONE bigram groupBy (context totals and
   * forward type counts by w1, continuation counts by w2, the type
   * total a 1-row broadcast) — margin-sized, partial-agg'd. Self-scored
   * docs always find their bigrams in the table, so P > 0 with no
   * unseen-pair fallback; docs under 2 tokens surface n_bigrams = 0
   * with a null score.
   */
  def knBigramScore(docs: DataFrame, idCol: String, textCol: String,
                    discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount in (0,1), got $discount")
    val toked = graft.CacheScope.persist(
      docs.select(col(idCol).as("id"), tokens(col(textCol)).as("t")))
    val toks = col("t")
    val pairs = toked.select(col("id"), explode(
        when(size(toks) >= 2,
          transform(sequence(lit(0), size(toks) - 2),
            i => struct(element_at(toks, i + 1).as("w1"),
              element_at(toks, i + 2).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val big = graft.CacheScope.persist(
      pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_xy")))
    val ctx = big.groupBy("w1")
      .agg(sum("n_xy").as("c_ctx"), count(lit(1)).as("n1p_fwd"))
    val cont = big.groupBy("w2").agg(count(lit(1)).as("n1p_bwd"))
    val types = big.agg(count(lit(1)).cast("double").as("n_types"))
    val d = lit(discount)
    val scored = pairs
      .join(big, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .groupBy("id").agg(
        count(lit(1)).as("n_bigrams"),
        avg(log(
          (greatest(col("n_xy") - d, lit(0.0)) +
            d * col("n1p_fwd") * (col("n1p_bwd") / col("n_types"))) /
            col("c_ctx"))).as("kn_logprob"))
    toked.select("id").join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("kn_logprob"))
  }

  /**
   * Corpus novelty rate: the fraction of a document's DISTINCT word
   * n-grams that the document OWNS — whose globally-first occurrence
   * (minimum doc id over the corpus) is this document. Boilerplate and
   * near-copies score ~0, genuinely new prose ~1; ranking a crawl
   * snapshot by novelty is the cheap screen run before the full minhash
   * pass. One explode + one partial-agg'd groupBy per n-gram to elect
   * owners + one token-keyed join back — no windows over the corpus.
   */
  def noveltyRate(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 3): DataFrame = {
    val grams = graft.CacheScope.persist(
      docs.select(col(idCol).as("id"),
        explode(array_distinct(wordShingles(col(textCol), n))).as("g")))
    val owner = grams.groupBy("g").agg(min(col("id")).as("owner_id"))
    val scored = grams.join(owner, "g")
      .groupBy("id").agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("owner_id") === col("id"), 1L).otherwise(0L)).as("n_owned"))
      .withColumn("novelty", col("n_owned").cast("double") / col("n_grams"))
    docs.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_owned"), lit(0L)).as("n_owned"), col("novelty"))
  }

  /**
   * Inverted-index build: token → document-frequency + the sorted
   * posting list (comma-joined string — engine- and driver-portable
   * where array columns stringify differently). `minDf` prunes hapax
   * noise; `maxDfFrac` cuts stop tokens that would post to most of the
   * corpus (those lists are the index's skew risk — at 100 TB a stop
   * token's postings dwarf every other key, and any consumer join on it
   * collapses). The (doc, token) distinct and the df groupBy are both
   * partial-agg'd on the token; the corpus size rides along broadcast.
   */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 2L, maxDfFrac: Double = 0.5): DataFrame = {
    val postings = docs.select(col(idCol).as("id"),
        explode(array_distinct(tokens(col(textCol)))).as("token"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    postings.groupBy("token")
      .agg(count(lit(1)).as("df"),
        concat_ws(",", sort_array(collect_set(col("id")))).as("postings"))
      .crossJoin(broadcast(n))
      .filter(col("df") >= minDf &&
        col("df") <= col("n_docs").cast("double") * maxDfFrac)
      .select("token", "df", "postings")
  }

  /**
   * TF-IDF scoring: for every (document, token), tf = in-doc count /
   * doc token total; idf = ln(N / doc-frequency); score = tf · idf.
   * Term stats are plain partial-agg groupBys; the corpus size N rides
   * along as a broadcast single-row frame (no driver action, no scalar
   * literal baked into the plan); the doc-frequency join keys on the
   * token — high cardinality, balanced at any scale.
   */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("token"))
    val tf = toks.groupBy("id", "token").agg(count(lit(1)).as("cnt"))
      .withColumn("n_toks", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")))
    val dfreq = toks.select("id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(countDistinct(col(idCol)).as("n_docs"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        (col("cnt").cast("double") / col("n_toks")) *
          log(col("n_docs").cast("double") / col("df")))
      .select(col("id"), col("token"), col("tfidf"))
  }

  /**
   * Shannon entropy of each document's token distribution (nats):
   * H = −Σ (c/n)·ln(c/n). Low entropy flags repetitive/boilerplate text
   * (complements [[repetitionRatio]]); high entropy flags noise. Two
   * partial-agg groupBys keyed by (doc, token) then doc — balanced at
   * any corpus size.
   */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = docs.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("cnt"))
      .withColumn("n", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")))
    counts.withColumn("p", col("cnt").cast("double") / col("n"))
      .groupBy("id")
      .agg((-sum(col("p") * log(col("p")))).as("entropy"))
  }

  /** Word n-gram shingles (order-preserving, may repeat). Empty array when
   * the text has fewer than n tokens. */
  /**
   * Cross-corpus duplicated-SPAN detection (the Lee et al. '22
   * "Deduplicating Training Data Makes Language Models Better" shape):
   * every position's word n-gram is a SEED; seeds whose n-gram occurs
   * at least `minCount` times ANYWHERE in the corpus (other docs or the
   * same doc) are duplicated positions, and overlapping/adjacent
   * duplicated positions merge into MAXIMAL duplicated token spans per
   * doc — the regions an exact-substring dedup pass would cut, without
   * a distributed suffix array. Emits (id, span_start, span_end
   * [inclusive token indexes], n_seeds).
   *
   * Plan: one tokenize + posexplode of md5 seed keys (md5, not xxhash:
   * 128 bits — no collision can bridge distinct text, and any engine
   * reproduces it), one partial-agg'd seed count, a semi-join back, and
   * [[Intervals.mergeIntervals]]'s single window per doc. Seed keys are
   * high-cardinality (shuffles balance); a stop-gram cap is `minCount`'s
   * job, not a skew hazard, because the count groupBy pre-aggregates.
   */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 8, minCount: Long = 2): DataFrame = {
    require(n >= 1 && minCount >= 2, "duplicatedSpans needs n >= 1, minCount >= 2")
    val toks = tokens(col(textCol))
    val seeds = df.select(col(idCol).as("id"), toks.as("_t"))
      .filter(size(col("_t")) >= n)
      .select(col("id"), posexplode(transform(sequence(lit(0), size(col("_t")) - n),
        i => md5(concat_ws(" ", slice(col("_t"), i + 1, lit(n)))))))
      .select(col("id"), col("pos"), col("col").as("h"))
    val dup = seeds.groupBy("h").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount)
    val dupPos = seeds.join(dup.select("h"), Seq("h"), "left_semi")
      .select(col("id"), col("pos").cast("long").as("s"),
        (col("pos") + n - 1).cast("long").as("e"))
    Intervals.mergeIntervals(dupPos, Seq("id"), "s", "e")
      .select(col("id"), col("start").as("span_start"), col("end").as("span_end"),
        col("n_members").as("n_seeds"))
  }

  /**
   * Exact duplicated-substring spans via TRUNCATED SUFFIX RANKS — the
   * suffix-array-family sibling of [[duplicatedSpans]] (the same Lee
   * et al. exact-substring dedup semantics, built the way the paper
   * does it — suffix ordering — instead of hashed seeds). Two token
   * positions start an identical `minLen`-token window iff their
   * Manber–Myers prefix-doubling ranks agree; ranks are computed only
   * up to the window width (⌈log₂ minLen⌉ rounds, NOT the full suffix
   * array: rank equality at width w ⟺ the w-token windows are
   * identical, and any length-L window is two overlapping width-2^m
   * windows — the sparse-table argument). No hashing anywhere: unlike
   * md5 seeds, a collision cannot merge unrelated spans, so the output
   * is certificate-exact at any corpus size.
   *
   * Scale shape per round: one per-doc (id,pos)-keyed self-join pairs
   * each position's rank with its pos+w successor; one partial-agg'd
   * groupBy collapses equal pairs to a canonical representative — the
   * class's minimum (id,pos), deterministic with no global sort and no
   * monotonically_increasing_id; one join back; lineage cut per round
   * (the plan otherwise fans out 3-way per doubling). Everything is
   * equi-join shaped and ranks stay flat fixed-width scalars — the
   * window TEXT is never materialized per position, which is what makes
   * this cheaper in bytes than seed hashing at large `minLen`.
   */
  def suffixSpans(df: DataFrame, idCol: String, textCol: String,
                  minLen: Int = 12, minCount: Long = 2,
                  checkpointDir: Option[String] = None): DataFrame = {
    require(minLen >= 2 && minCount >= 2,
      "suffixSpans needs minLen >= 2, minCount >= 2")
    val toks = tokens(col(textCol))
    // Packability probe — ONE cheap scan, no tokenization: n space-split
    // tokens ≤ octet_length+1, so max(octet_length) bounds every pos.
    // When ids are non-negative and small enough that (id << posBits)|pos
    // cannot overflow, the whole class-representative (id, pos) packs
    // into ONE long; otherwise (snowflake-scale or negative ids) the
    // two-scalar fallback below keeps the operator total.
    val integralId = {
      import org.apache.spark.sql.types._
      df.schema(idCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    val b =
      if (integralId)
        df.agg(min(col(idCol).cast("long")).as("lo"),
          max(col(idCol).cast("long")).as("hi"),
          max(octet_length(col(textCol))).as("mb")).head()
      else null
    val posBits =
      if (b == null || b.isNullAt(2)) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(b.getInt(2).toLong + 1L)
    val packable = b != null && !b.isNullAt(0) && !b.isNullAt(2) &&
      b.getLong(0) >= 0L && b.getLong(1) <= (Long.MaxValue >> posBits)
    // gid is DERIVED (id << posBits | pos), never carried: the rows that
    // shuffle every round stay (id, len, pos, rank*)
    val gid = col("id") * lit(if (packable) 1L << posBits else 1L) + col("pos")
    val base = df.select(col(idCol).as("id"), size(toks).as("len"),
        posexplode(toks))
      .select(col("id"), col("len"), col("pos"), col("col").as("ra"))
    val carry = Seq("id", "len", "pos")
    // pair rank(i) with rank(i+off) per doc. Positions are DENSE
    // (posexplode emits every 0..len-1, and every round preserves every
    // row), so the successor is simply the row `off` places later in the
    // per-doc position order — one lead() window, ONE per-doc shuffle,
    // where the (id, pos) self-join this replaced shuffled both sides.
    // Per-doc windows bound the task by doc length (the Sessionize
    // contract), not by class size — the skew-prone class-rep step below
    // stays a partial-agg'd groupBy. Tail positions pair with null; they
    // can share ranks only among themselves (struct grouping/equality
    // treats a null field as equal only to null), and the final validity
    // filter drops them before counting.
    //
    // Rank representation: FLAT columns, never a nested struct between
    // rounds — an UnsafeRow stores a nested struct(long,int) as an
    // 8-byte slot plus a 24-byte child row, and every round shuffles the
    // rank three times (window, class groupBy, join probe). Round 1
    // ranks are the token strings (one column `ra`). After each
    // rep-assignment the rank is DENSIFIED to the representative's
    // packed global position `gid = (id << posBits) | pos` — ONE long —
    // whenever the packability probe allowed it: gid is injective and
    // monotone in (id, pos), so min(gid) IS min(struct(id, pos)), no
    // hashing, still certificate-exact. The fallback carries (ra: long,
    // rb: int) — the representative's raw (id, pos) — when ids are
    // negative or too large to pack. Packed pair keys are 2 scalars vs
    // the fallback's 4: the window, groupBy and join each move half the
    // key bytes.
    def paired(r: DataFrame, rankCols: Seq[String], off: Int): DataFrame = {
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy("pos")
      val leads = rankCols.zipWithIndex.map { case (c, i) =>
        lead(col(c), off).over(wd).as(s"_l$i") }
      r.select(carry.map(col) ++ rankCols.map(col) ++ leads: _*)
        .withColumn("pair", struct(rankCols.map(col) ++
          rankCols.indices.map(i => col(s"_l$i")): _*))
        .select(carry.map(col) :+ col("pair"): _*)
    }
    // doubling rounds: round i pairs ranks of width w = 2^(i-1) into
    // width 2w, for as long as 2w <= minLen
    val doublings = Iterator.iterate(1)(_ * 2).takeWhile(_ * 2 <= minLen).size
    val w = 1 << doublings
    val (r, rankCols) = graft.Fixpoint.iterate("suffixSpans", (base, Seq("ra")),
        checkpointDir)(graft.Fixpoint.Fixed(doublings)) {
      case ((r, rankCols), i, cut) =>
        val p = paired(r, rankCols, 1 << (i - 1))
        // distinct pair classes → injective representative: each (id,pos)
        // sits in exactly one class, so the class minimum never collides
        if (packable) {
          val reps = p.groupBy("pair").agg(min(gid).as("rank"))
          (cut(p.join(reps, Seq("pair"))
            .select(carry.map(col) :+ col("rank").as("ra"): _*)), Seq("ra"))
        } else {
          val reps = p.groupBy("pair")
            .agg(min(struct(col("id"), col("pos"))).as("rank"))
          (cut(p.join(reps, Seq("pair"))
            .select(col("id"), col("len"), col("pos"),
              col("rank.id").as("ra"), col("rank.pos").as("rb"))), Seq("ra", "rb"))
        }
    }
    // width-minLen equality key: the two overlapping width-w windows
    val keyed =
      if (w == minLen)
        r.select(col("id"), col("pos"), col("len"),
          struct(rankCols.map(col): _*).as("key"))
      else
        paired(r, rankCols, minLen - w).select(col("id"), col("pos"),
          col("len"), col("pair").as("key"))
    val valid = keyed.filter(col("pos") + minLen <= col("len"))
    val dup = valid.groupBy("key").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount)
    val dupPos = valid.join(dup.select("key"), Seq("key"), "left_semi")
      .select(col("id"), col("pos").cast("long").as("s"),
        (col("pos") + minLen - 1).cast("long").as("e"))
    Intervals.mergeIntervals(dupPos, Seq("id"), "s", "e")
      .select(col("id"), col("start").as("span_start"),
        col("end").as("span_end"), col("n_members").as("n_seeds"))
  }

  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /**
   * Winnowing fingerprint (Schleimer et al., SIGMOD'03): hash every word
   * k-gram, slide a window of w hashes, keep each window's minimum; the
   * distinct minima are the document fingerprint. Near-identical documents
   * share most fingerprints, so grouping by fingerprint finds clones.
   */
  def fingerprint(df: DataFrame, textCol: String, k: Int = 5, w: Int = 4,
                  outCol: String = "fingerprints"): DataFrame = {
    val hashes = transform(wordShingles(col(textCol), k), s => xxhash64(s))
    val windows = when(size(hashes) >= w,
      transform(sequence(lit(0), size(hashes) - w),
        i => array_min(slice(hashes, i + 1, lit(w)))))
      .otherwise(hashes)
    df.withColumn(outCol, array_distinct(windows))
  }

  /**
   * Span-level exact dedup (the C4/RefinedWeb move: drop REPEATED SPANS
   * from otherwise-distinct documents, not whole-doc duplicates): each
   * doc is cut into consecutive `spanWords`-word spans, every span
   * duplicated anywhere in the corpus keeps only its FIRST occurrence
   * (ordered by doc id then position), and the surviving spans are
   * reassembled in order. Boilerplate headers/footers/navigation chrome
   * die here while the unique prose survives.
   *
   * Scale shape: one explode (×docLen/spanWords), one partial-agg'd
   * groupBy on the span to find each span's first occurrence, one
   * broadcast-or-shuffle semi join back, one groupBy to reassemble —
   * no windows over the whole corpus, no driver involvement.
   */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                spanWords: Int = 10): DataFrame = {
    val toks = tokens(col(textCol))
    // integer span count: Column./ is IEEE division, so floor back to int
    val lastSpan = floor((size(toks) - 1) / lit(spanWords)).cast("int")
    val spans = df.select(col(idCol).as("id"),
        posexplode(transform(sequence(lit(0), lastSpan),
          i => concat_ws(" ", slice(toks, i * spanWords + 1, lit(spanWords))))))
      .withColumnRenamed("col", "span")
    // first (id, pos) per distinct span: partial-agg'd min over a struct,
    // not a window (one row per span reaches the shuffle)
    val keepers = spans.groupBy("span")
      .agg(min(struct(col("id"), col("pos"))).as("first"))
      .select(col("span"), col("first.id").as("id"), col("first.pos").as("pos"))
    val kept = spans.join(keepers, Seq("span", "id", "pos"), "left_semi")
      .groupBy("id")
      .agg(count(lit(1)).as("n_spans_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("span")))),
          s => s.getField("span"))).as("text_dedup"))
    // docs whose every span was removed still emit a row — the drop is
    // visible, not silent
    df.select(col(idCol).as("id")).join(kept, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_spans_kept"), lit(0L)).as("n_spans_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /**
   * Corpus-FREQUENCY boilerplate removal — the CCNet companion rule to
   * [[spanDedup]]: where spanDedup keeps each duplicated span's FIRST
   * occurrence (C4's first-wins rule), this drops EVERY occurrence of
   * any span appearing in at least `maxDocFreq` DISTINCT documents.
   * Navigation chrome, cookie banners and license footers are text
   * whose very ubiquity is the signal — their first occurrence is as
   * worthless as their last — while rare prose survives untouched even
   * when it repeats within one document.
   *
   * Scale shape: one explode, a two-level partial-agg'd groupBy for the
   * distinct-doc frequency ((span,id) distinct, then span count — never
   * a corpus-wide window and never countDistinct's per-group state), an
   * anti join back (the frequent-span set is SMALL by construction —
   * crossing `maxDocFreq` takes ubiquity, so few distinct values
   * qualify and AQE broadcasts the build side), one groupBy to
   * reassemble surviving spans in position order. Docs scrubbed to
   * nothing still emit a row — the drop is visible, not silent.
   */
  def boilerplateScrub(df: DataFrame, idCol: String, textCol: String,
                       spanWords: Int = 10, maxDocFreq: Int = 3): DataFrame = {
    require(spanWords >= 1, "boilerplateScrub needs spanWords >= 1")
    require(maxDocFreq >= 2, "boilerplateScrub needs maxDocFreq >= 2")
    val toks = tokens(col(textCol))
    val lastSpan = floor((size(toks) - 1) / lit(spanWords)).cast("int")
    val spans = df.select(col(idCol).as("id"),
        posexplode(transform(sequence(lit(0), lastSpan),
          i => concat_ws(" ", slice(toks, i * spanWords + 1, lit(spanWords))))))
      .withColumnRenamed("col", "span")
    val frequent = spans.select("span", "id").distinct()
      .groupBy("span").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= maxDocFreq)
      .select("span")
    val kept = spans.join(frequent, Seq("span"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("n_spans_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("span")))),
          s => s.getField("span"))).as("text_clean"))
    df.select(col(idCol).as("id")).join(kept, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_spans_kept"), lit(0L)).as("n_spans_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /**
   * WITHIN-document repeated-span removal — the map-only sibling of
   * [[spanDedup]]: each doc keeps the FIRST occurrence of every distinct
   * `spanWords`-word span OF ITS OWN TEXT (the RefinedWeb/CCNet
   * in-document repetition scrub, vs C4's corpus-level first-occurrence
   * rule). Because no other document matters, the whole operator is one
   * higher-order-function expression over the token array: NO shuffle,
   * no state, no join — at 100 TB it executes as a map over the scan
   * with perfect linear scaling, which is why a pipeline runs this
   * BEFORE the corpus-level passes. Per-doc cost is O(spans²) via
   * array_position — bounded by document length, not corpus size.
   */
  /** The surviving-spans array underlying [[docSpanDedup]] /
   * [[scrubRepeatedSpans]]: spans of `textCol`, first occurrence of
   * each distinct span kept in position order. Pure expression. */
  private def keptSpans(textCol: String, spanWords: Int): Column = {
    val toks = tokens(col(textCol))
    val lastSpan = floor((size(toks) - 1) / lit(spanWords)).cast("int")
    val spans = when(size(toks) > 0,
      transform(sequence(lit(0), greatest(lastSpan, lit(0))),
        i => concat_ws(" ", slice(toks, i * spanWords + 1, lit(spanWords)))))
      .otherwise(array().cast("array<string>"))
    // keep span i iff its first occurrence IS position i (1-based
    // array_position vs 0-based lambda index)
    filter(spans, (s, i) => array_position(spans, s) === i + 1)
  }

  def docSpanDedup(df: DataFrame, idCol: String, textCol: String,
                   spanWords: Int = 10): DataFrame = {
    require(spanWords >= 1, "docSpanDedup needs spanWords >= 1")
    df.select(col(idCol), keptSpans(textCol, spanWords).as("_kept"))
      .select(col(idCol), size(col("_kept")).cast("long").as("n_spans_kept"),
        concat_ws(" ", col("_kept")).as("text_dedup"))
  }

  /** In-place variant of [[docSpanDedup]] for pipeline composition:
   * replaces `textCol` with its within-doc-deduped text, all other
   * columns untouched — still a pure expression, no shuffle. Null text
   * stays NULL (concat_ws would silently coerce it to "", collapsing
   * every null-text doc into one empty doc at the next exact dedup). */
  def scrubRepeatedSpans(df: DataFrame, textCol: String,
                         spanWords: Int = 10): DataFrame = {
    require(spanWords >= 1, "scrubRepeatedSpans needs spanWords >= 1")
    df.withColumn(textCol, when(col(textCol).isNull, lit(null))
      .otherwise(concat_ws(" ", keptSpans(textCol, spanWords))))
  }

  /**
   * Zipf slope of the corpus token-frequency distribution: OLS fit of
   * ln(count) against ln(rank) over the top-`topN` tokens — the
   * corpus-health number data curation watches (natural language sits
   * near −1; templated/synthetic corpora run much flatter, and a sudden
   * slope shift between snapshots means the mix changed). One
   * partial-agg'd token count, a `topN`-row TakeOrdered to the driver
   * plan side, and the [[Analytics.linearFit]] covar/var formulas on
   * ln/ln points — corpus-sized work is exactly one groupBy.
   */
  def zipfSlope(df: DataFrame, textCol: String, topN: Int = 30): DataFrame = {
    require(topN >= 2, "zipfSlope needs topN >= 2")
    val counts = df.select(explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc).limit(topN)
    // rank over ≤topN rows: the benign bounded single-partition window
    // (see Harness.driverSession); the ln/ln OLS IS Analytics.linearFit (ungrouped) —
    // one divide-by-zero-safe slope implementation, not two
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("tok").asc)
    val pts = counts
      .withColumn("x", log(row_number().over(w).cast("double")))
      .withColumn("y", log(col("c").cast("double")))
    Analytics.linearFit(pts, Seq.empty, "y", "x")
      // n_ranks, not n_tokens: this is the number of RANKED POINTS in the
      // fit (≤ topN distinct tokens), not a corpus token count
      .select(col("n").as("n_ranks"), col("slope"), col("intercept"))
  }

  /**
   * Sliding-window document chunking: cut each doc into `chunkTokens`-
   * token windows advancing by `stride` tokens (stride < chunkTokens →
   * overlapping context, the standard long-document → training-sample
   * split). Emits one row per (doc, chunk) with the window's text.
   * Pure per-row transform + explode — embarrassingly parallel, no
   * shuffle at all.
   */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1,
      s"chunkTokens and stride must be >= 1 ($chunkTokens, $stride)")
    val toks = tokens(col(textCol))
    val lastChunk = floor((size(toks) - 1) / lit(stride)).cast("int")
    df.select(col(idCol),
        posexplode(transform(sequence(lit(0), lastChunk),
          i => concat_ws(" ", slice(toks, i * stride + 1, lit(chunkTokens))))))
      .select(col(idCol), col("pos").as("chunk_id"), col("col").as("chunk_text"))
  }

  /**
   * Measured property gate for [[fingerprint]] — the winnowing output is
   * engine-hash-specific, so instead of comparing raw fingerprints an
   * external oracle asserts three properties this query COMPUTES:
   *  - `sound`: every fingerprint is the hash of some k-gram of the doc
   *    (no fabricated minima);
   *  - `in_bounds`: the fingerprint count lies in [min(1, #windows),
   *    #windows] — winnowing keeps one minimum per window, distinct;
   *  - `n_fp_sets`: all docs with identical text produce the identical
   *    fingerprint set (deterministic function of content — the
   *    reproducibility contract a dedup pipeline relies on).
   * All three are oracle-derivable constants (true / true / 1) for every
   * document, so the gate is hashable without replicating the hash.
   */
  def fingerprintGate(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 5, w: Int = 4): DataFrame = {
    val hashes = transform(wordShingles(col(textCol), k), s => xxhash64(s))
    val wText = org.apache.spark.sql.expressions.Window.partitionBy(textCol)
    fingerprint(df, textCol, k, w)
      .withColumn("kgram_hashes", hashes)
      .withColumn("n_fp", size(col("fingerprints")))
      .withColumn("n_windows",
        when(size(col("kgram_hashes")) >= w,
          size(col("kgram_hashes")) - w + 1)
          .otherwise(size(col("kgram_hashes"))))
      .withColumn("sound",
        size(array_except(col("fingerprints"), col("kgram_hashes"))) === 0)
      .withColumn("in_bounds",
        col("n_fp") <= col("n_windows") &&
          col("n_fp") >= least(col("n_windows"), lit(1)))
      .withColumn("n_fp_sets",
        size(collect_set(col("fingerprints")).over(wText)))
      .select(col(idCol), col("sound"), col("in_bounds"), col("n_fp_sets"))
  }

  /**
   * BM25 top-k retrieval (Robertson–Spärck Jones; the Lucene-shaped
   * non-negative idf): score(q, d) = Σ_{t ∈ q distinct} idf(t) ·
   * tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)), idf = ln(1 +
   * (N − df + 0.5)/(df + 0.5)). The sparse half of hybrid retrieval
   * (dense half: [[graft.operators.Similarity]]; fuse with
   * [[graft.operators.Analytics.rrfFuse]]).
   *
   * Scale shape: doc term frequencies and document frequencies are
   * token-keyed partial-agg groupBys over ONE tokenize pass (persisted —
   * tf and df must not re-explode the corpus twice); N and avgdl ride
   * along as a broadcast single-row frame; the query side (tiny by
   * contract — a query batch, not a corpus) is broadcast into the
   * token-keyed match join, so the corpus never shuffles on anything
   * but the token key; per-(query, doc) sums partial-agg before the
   * final top-k rank shuffle on query_id.
   */
  /**
   * BM25 corpus index: one row per (document, distinct token) carrying
   * term frequency, document length, document frequency, and the
   * corpus-wide N / avgdl — everything scoring needs, with the raw text
   * read exactly once. This is the postings-with-stats table a real IR
   * deployment MATERIALIZES (persist it, or share it via
   * [[graft.SharedStage]] when several retrieval queries hit the same
   * corpus); [[bm25ScoreIndex]] then serves any number of query
   * batches against it without touching the corpus again.
   */
  def bm25Index(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bm25Assemble(bm25Postings(docs, idCol, textCol))

  /**
   * The DOC-LOCAL half of the BM25 index: one `(id, token, tf, dl)` row
   * per (document, distinct token) — every value derivable from that
   * document alone, which is exactly what makes the postings table
   * incrementally maintainable ([[bm25PostingsApplyChanges]]): a
   * changed document's rows swap out without touching any other row.
   * The corpus-global pieces (df, N, avgdl) deliberately do NOT live
   * here — denormalized per row they would go stale on every commit;
   * [[bm25Assemble]] re-derives them from the postings (index-sized
   * aggregation, no text re-read).
   */
  def bm25Postings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks =
      docs.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))
    toks.groupBy("id", "token").agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")))
  }

  /** Derive the scoring view from [[bm25Postings]]: df per token (the
   * postings are distinct per (id, token), so a count IS the document
   * frequency), N and avgdl as a broadcast single-row frame. One pass
   * over the index — never the corpus.
   *
   * The result is explicitly DOC-PARTITIONED (`repartition(id)`): with
   * all of a document's postings colocated, [[bm25ScoreIndex]]'s
   * `groupBy(query_id, id)` satisfies its clustering straight from the
   * cached/persisted view — hash(id) clusters any (query_id, id) group
   * — so a query batch pays NO index-sized exchange, only the top-k
   * window's rank-pruned rows. Without the pin, Catalyst is free to
   * leave the assemble join partitioned by `token` (AQE broadcasts
   * whichever side looks smaller), and every scoring run re-shuffles
   * all matched postings; measured 160× more shuffle per batch at
   * sf0.1. The repartition itself is index-sized, one-time, amortized
   * across batches — and doc-sharding is how a serving index is laid
   * out anyway. */
  def bm25Assemble(postings: DataFrame): DataFrame = {
    val p = graft.CacheScope.persist(postings)
    val dfreq = p.groupBy("token").agg(count(lit(1)).as("df"))
    val stats = p.groupBy("id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    p.join(dfreq, "token").crossJoin(broadcast(stats))
      .repartition(col("id"))
  }

  /**
   * Maintain [[bm25Postings]] from a row-level change feed (Delta CDF
   * shape, [[graft.sources.StateStore.changesBetween]]) — the sparse
   * index as a MATERIALIZED VIEW of the document store, the text twin
   * of [[graft.operators.Similarity.pqIndexApplyChanges]]: deletes and
   * update pre-images retract their doc's rows (one broadcast anti-join
   * on the batch-sized id set), inserts and update post-images
   * tokenize ONLY their own text. Unchanged documents are never
   * re-read; at 100 TB the nightly index refresh costs the day's delta,
   * not a corpus re-tokenize. Contract (spec):
   * `bm25Assemble(applyChanges(postings@v1, changes(v1→v2)))` ≡
   * `bm25Index(state@v2)`.
   */
  def bm25PostingsApplyChanges(postings: DataFrame, feed: DataFrame,
                               idCol: String, textCol: String): DataFrame = {
    val landDocs = feed
      .filter(col("change_type").isin("insert", "update_postimage"))
      .select(col(idCol), col(textCol))
    val gone = feed.filter(col("change_type").isin("delete", "update_preimage"))
      .select(col(idCol).as("id"))
      .unionByName(landDocs.select(col(idCol).as("id"))).distinct()
    postings.join(broadcast(gone), Seq("id"), "left_anti")
      .unionByName(bm25Postings(landDocs, idCol, textCol))
  }

  /** [[trigramIndex]] maintenance from a change feed — same algebra as
   * [[bm25PostingsApplyChanges]] (posting rows are doc-local), same
   * contract: maintained index ≡ `trigramIndex(state@v2)`. */
  def trigramIndexApplyChanges(index: DataFrame, feed: DataFrame,
                               idCol: String, textCol: String): DataFrame = {
    val landDocs = feed
      .filter(col("change_type").isin("insert", "update_postimage"))
      .select(col(idCol), col(textCol))
    val gone = feed.filter(col("change_type").isin("delete", "update_preimage"))
      .select(col(idCol).as("id"))
      .unionByName(landDocs.select(col(idCol).as("id"))).distinct()
    index.join(broadcast(gone), Seq("id"), "left_anti")
      .unionByName(trigramIndex(landDocs, idCol, textCol))
  }

  /** `scoreRoundDecimals`: rank on the score ROUNDED to that many
   * decimals (floor(x·10^d + 0.5) — the repo's parity rounding) instead
   * of the raw double. The per-(query, doc) score is a SUM over matched
   * terms, and FP sums are accumulation-order-dependent — two docs with
   * identical text (ubiquitous in a dedup-bearing corpus) can come out
   * ulps apart and rank differently run-to-run and engine-to-engine.
   * Rounded ranking makes the ordering reproducible; None keeps raw. */
  def bm25TopK(docs: DataFrame, queries: DataFrame,
               idCol: String, textCol: String, qIdCol: String, qTextCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75,
               scoreRoundDecimals: Option[Int] = None): DataFrame =
    bm25ScoreIndex(bm25Index(docs, idCol, textCol), queries,
      qIdCol, qTextCol, k, k1, b, scoreRoundDecimals)

  /** Score a query batch against a prebuilt [[bm25Index]]. */
  def bm25ScoreIndex(index: DataFrame, queries: DataFrame,
                     qIdCol: String, qTextCol: String,
                     k: Int, k1: Double = 1.2, b: Double = 0.75,
                     scoreRoundDecimals: Option[Int] = None): DataFrame = {
    val qTerms = queries.select(col(qIdCol).as("query_id"),
      explode(array_distinct(tokens(col(qTextCol)))).as("token"))
    index
      .join(broadcast(qTerms), "token")
      .filter(col("query_id") =!= col("id"))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w", col("idf") * col("tf") * (lit(k1) + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("query_id", "id")
      .agg(sum("w").as("bm25"), count(lit(1)).as("n_terms"))
      .withColumn("bm25", scoreRoundDecimals.fold(col("bm25")) { d =>
        val p = math.pow(10, d)
        floor(col("bm25") * p + 0.5) / p
      })
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("bm25").desc, col("id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("doc_id"), col("bm25"),
        col("n_terms"), col("rank"))
  }

  /** Distinct character 3-grams of a string column (empty array below
   * 3 chars). Pure higher-order-function composition — codegen'd, no
   * UDF: positions 1..len−2 each slice a 3-char substring. */
  def charTrigrams(c: Column): Column =
    when(length(c) >= 3,
      array_distinct(transform(sequence(lit(1), length(c) - 2),
        i => c.substr(i, lit(3)))))
      .otherwise(array().cast("array<string>"))

  /**
   * Character-trigram posting index — the substring-search index shape
   * (Google Code Search, Cox 2012; PostgreSQL pg_trgm). A literal
   * `LIKE '%pat%'` over 100 TB of text is a full-corpus scan PER QUERY;
   * the trigram index is built once (one pass, `(trigram, doc)` pairs,
   * distinct within each doc) and every search touches only the
   * pattern's own trigram buckets. Write it bucketed by `tri` and the
   * probe's `isin` filter prunes to those buckets at the scan.
   */
  def trigramIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(charTrigrams(col(textCol))).as("tri"))

  /**
   * EXACT literal substring search via the [[trigramIndex]]:
   * candidates = docs whose posting rows cover EVERY trigram of the
   * pattern (an index-side `isin` filter — |pat|−2 buckets, nothing
   * else — then a per-doc coverage count), verified with `contains` on
   * the candidate docs alone. Exact by construction: a doc containing
   * the pattern contains all of its trigrams, so the intersection is a
   * superset of the truth and the verify pass removes false positives
   * (all trigrams present but never adjacent). At scale the candidate
   * set is tiny → broadcast semi-join prunes the corpus re-read to the
   * candidates (id-bucketed corpus ⇒ bucket-pruned, not a full pass).
   *
   * Returns `(doc_id, first_pos)` — 1-based offset of the first match.
   */
  def trigramSearch(docs: DataFrame, index: DataFrame,
                    idCol: String, textCol: String, pattern: String): DataFrame = {
    require(pattern.length >= 3,
      s"trigram search needs a pattern of >= 3 chars, got '$pattern'")
    val pats = pattern.sliding(3).toSeq.distinct
    val cand = index.filter(col("tri").isin(pats: _*))
      .groupBy("id").agg(countDistinct(col("tri")).as("n_tri"))
      .filter(col("n_tri") === pats.size)
      .select(col("id"))
    docs.join(broadcast(cand), docs(idCol) === cand("id"), "left_semi")
      .filter(col(textCol).contains(pattern))
      .select(col(idCol).as("doc_id"),
        instr(col(textCol), pattern).cast("long").as("first_pos"))
  }

  /**
   * BATCH form of [[trigramSearch]] — the service shape: a whole
   * DataFrame of patterns probes the index in ONE pass. The per-pattern
   * `isin` becomes an equi-JOIN on the trigram key (patterns explode to
   * their trigrams, the posting index joins once — with a tri-bucketed
   * index this prunes to the union of the batch's buckets), coverage is
   * a per-(pattern, doc) distinct count matched against the pattern's
   * own trigram count, and the `contains` verify touches only candidate
   * (pattern, doc) pairs. Exact per pattern, by the same
   * superset-then-verify argument. Patterns shorter than 3 chars cannot
   * be indexed and fail LOUDLY (raise_error), not silently.
   *
   * Returns `(pat_id, doc_id, first_pos)`.
   */
  def trigramSearchBatch(docs: DataFrame, index: DataFrame,
                         idCol: String, textCol: String,
                         patterns: DataFrame, pIdCol: String,
                         pTextCol: String): DataFrame = {
    // internal columns carry a _pat prefix so they can never collide
    // with a caller's doc columns once joined back onto `docs`
    val pats = patterns.select(col(pIdCol).as("pat_id"),
      when(length(col(pTextCol)) >= 3, col(pTextCol))
        .otherwise(raise_error(concat(lit("trigramSearchBatch: pattern '"),
          col(pTextCol), lit("' shorter than 3 chars"))))
        .as("_pat"))
    val qtri = pats
      .select(col("pat_id"), col("_pat"),
        explode(charTrigrams(col("_pat"))).as("tri"))
    val nTri = qtri.groupBy("pat_id").agg(count(lit(1)).as("n_pat_tri"))
    val cand = index.join(broadcast(qtri.select("pat_id", "tri")), Seq("tri"))
      .groupBy("pat_id", "id").agg(countDistinct(col("tri")).as("n_tri"))
      .join(broadcast(nTri), Seq("pat_id"))
      .filter(col("n_tri") === col("n_pat_tri"))
      .select("pat_id", "id")
    docs.join(broadcast(cand), docs(idCol) === cand("id"), "inner")
      .join(broadcast(pats), Seq("pat_id"))
      .filter(col(textCol).contains(col("_pat")))
      // call_function, not expr-string interpolation: a column name
      // needing backticks would break a raw SQL fragment (the Scala
      // `instr` helper only takes a literal needle)
      .select(col("pat_id"), col(idCol).as("doc_id"),
        call_function("instr", col(textCol), col("_pat"))
          .cast("long").as("first_pos"))
  }

  /**
   * Content-defined chunking (LBFS/Rabin rolling-hash split): each
   * document splits at positions where the rolling hash of the trailing
   * `w`-codepoint window ≡ 0 mod `mod` — boundaries move WITH the
   * content, so a one-byte insertion near the front leaves all but one
   * chunk identical and chunk-md5 dedup catches shifted boilerplate
   * that whole-doc or fixed-block hashing misses (the training-corpus
   * cousin of every dedup'ing store's chunker).
   *
   * Map-only: the [[graft.expressions.CdcBoundaries]] kernel emits the
   * boundary list in one O(len) compiled pass, chunk rows are born in
   * the scan's partition (posexplode, no shuffle), and the md5 runs
   * over the codepoint-addressed substring. Output:
   * `(doc_id, chunk_idx, chunk_start, chunk_len, chunk_md5)`.
   */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                w: Int = 16, mod: Int = 64,
                base: Long = 31L, prime: Long = 1000003L): DataFrame = {
    val text = col(textCol)
    val bnd = graft.functions.Hashing.cdcBoundaries(text, w, base, prime, mod)
    val starts = concat(array(lit(1)), transform(bnd, b => b + 1))
    val ends = concat(bnd, array(length(text)))
    docs.filter(text.isNotNull)
      .select(col(idCol).as("doc_id"), text.as("_t"),
        posexplode(arrays_zip(starts.as("s"), ends.as("e"))))
      .filter(col("col.s") <= col("col.e")) // a boundary AT len ends the doc
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col.s").cast("long").as("chunk_start"),
        (col("col.e") - col("col.s") + 1).cast("long").as("chunk_len"),
        md5(col("_t").substr(col("col.s"), col("col.e") - col("col.s") + 1)
          .cast("binary")).as("chunk_md5"))
  }

  /**
   * Hashed uni+bigram feature buckets of a text column — the hashing
   * trick (Weinberger et al. ICML'09) over the whitespace tokens plus
   * adjacent-pair bigrams, each bucketed with
   * [[graft.operators.Sampling.hashBucket]] (the repo's md5-prefix
   * cross-engine hash, so a DuckDB oracle replays the features
   * exactly). Order is tokens-then-bigrams, each in document order —
   * scoring folds over this list sequentially, and a DETERMINISTIC
   * order is what makes the fold's FP sum engine-reproducible.
   */
  def hashedNgramBuckets(text: Column, buckets: Int,
                         bigrams: Boolean = true): Column = {
    val toks = tokens(text)
    val uni = transform(toks, t => graft.operators.Sampling.hashBucket(t, buckets))
    if (!bigrams) uni
    else {
      val bi = filter(
        zip_with(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => when(b.isNotNull,
            graft.operators.Sampling.hashBucket(concat(a, lit(" "), b), buckets))),
        _.isNotNull)
      concat(uni, bi)
    }
  }

  /**
   * FastText-style LINEAR text classifier, TRAIN half (Joulin et al.
   * '16 "Bag of Tricks" architecture; weights estimated as naive-Bayes
   * log-count ratios — the NB-SVM trick, Wang & Manning ACL'12 — so
   * training is ONE aggregation pass over the hashed features, no
   * gradient loop, nightly re-trainable at corpus scale). Returns a
   * single-row MODEL frame `(weights array<double>[buckets], bias)`:
   * `weights[b] = ln((tc_b+α)/(T⁺+αB)) − ln((rc_b+α)/(T⁻+αB))` with
   * tc/rc the feature-occurrence counts in positive/negative docs, and
   * `bias = ln(n⁺+α) − ln(n⁻+α)` the doc-count prior. The dense
   * bucket-indexed array assembles IN-PLAN (map_from_entries over the
   * ≤B seen buckets + a sequence fill with the unseen-bucket default)
   * — model-artifact-sized like the PQ codebooks, no driver collect.
   */
  def linearClassifierTrain(docs: DataFrame, textCol: String, posCol: Column,
                            buckets: Int = 1024, bigrams: Boolean = true,
                            alpha: Double = 1.0): DataFrame =
    classifierAssemble(
      classifierCounts(docs, textCol, posCol, buckets, bigrams), buckets, alpha)

  /**
   * The classifier's SUFFICIENT STATISTICS as a maintainable table —
   * one row per seen feature bucket `(_f >= 0, _tc, _rc)` (feature
   * occurrences in positive / negative docs) plus the `_f = -1` row
   * carrying the DOC counts for the prior. NB counts are ADDITIVE, so
   * this table is to the classifier what the postings are to BM25: the
   * doc-local, incrementally-maintainable half
   * ([[classifierCountsApplyChanges]]); [[classifierAssemble]]
   * re-derives the corpus-global weights from it (count-table-sized
   * work, no text re-read). `linearClassifierTrain ≡
   * assemble(counts(docs))` by construction.
   */
  def classifierCounts(docs: DataFrame, textCol: String, posCol: Column,
                       buckets: Int = 1024,
                       bigrams: Boolean = true): DataFrame = {
    require(buckets >= 2, "classifierCounts needs >= 2 buckets")
    val feats = docs.select(posCol.as("_pos"),
      explode(hashedNgramBuckets(col(textCol), buckets, bigrams)).as("_f"))
    val perB = feats.groupBy("_f").agg(
      sum(when(col("_pos"), 1L).otherwise(0L)).as("_tc"),
      sum(when(col("_pos"), 0L).otherwise(1L)).as("_rc"))
    val docRow = docs.agg(
      coalesce(sum(when(posCol, 1L).otherwise(0L)), lit(0L)).as("_tc"),
      coalesce(sum(when(posCol, 0L).otherwise(1L)), lit(0L)).as("_rc"))
      .select(lit(-1L).as("_f"), col("_tc"), col("_rc"))
    perB.unionByName(docRow)
  }

  /**
   * Maintain [[classifierCounts]] from a row-level change feed (Delta
   * CDF shape): deletes and update pre-images SUBTRACT their doc's
   * feature multiset and doc count, inserts and update post-images add
   * — one delta-sized tokenize + one count-table-sized merge, the
   * [[bm25PostingsApplyChanges]] algebra on additive statistics.
   * Buckets whose counts both reach zero drop out, so the contract is
   * exact: `applyChanges(counts@v1, changes(v1→v2)) ≡
   * classifierCounts(state@v2)`. At 100 TB the nightly model refresh
   * costs the day's delta, then [[classifierAssemble]] re-fits the
   * weights from counts alone.
   */
  def classifierCountsApplyChanges(counts: DataFrame, feed: DataFrame,
                                   textCol: String, posCol: Column,
                                   buckets: Int = 1024,
                                   bigrams: Boolean = true): DataFrame = {
    val sign = when(col("change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(lit(-1L))
    val tagged = feed.select(posCol.as("_pos"), sign.as("_sign"), col(textCol))
    val featDelta = tagged
      .select(col("_pos"), col("_sign"),
        explode(hashedNgramBuckets(col(textCol), buckets, bigrams)).as("_f"))
      .groupBy("_f").agg(
        sum(when(col("_pos"), col("_sign")).otherwise(0L)).as("_tc"),
        sum(when(col("_pos"), 0L).otherwise(col("_sign"))).as("_rc"))
    val docDelta = tagged.agg(
      coalesce(sum(when(col("_pos"), col("_sign")).otherwise(0L)), lit(0L)).as("_tc"),
      coalesce(sum(when(col("_pos"), 0L).otherwise(col("_sign"))), lit(0L)).as("_rc"))
      .select(lit(-1L).as("_f"), col("_tc"), col("_rc"))
    counts.unionByName(featDelta).unionByName(docDelta)
      .groupBy("_f").agg(sum("_tc").as("_tc"), sum("_rc").as("_rc"))
      .filter(col("_f") === -1L || col("_tc") =!= 0L || col("_rc") =!= 0L)
  }

  /** Fit the `(weights, bias)` model frame from [[classifierCounts]] —
   * the corpus-global half, re-derived from the count table alone
   * (never the corpus). Same in-plan dense-array assembly as
   * [[linearClassifierTrain]]. */
  def classifierAssemble(counts: DataFrame, buckets: Int,
                         alpha: Double = 1.0): DataFrame = {
    val perB = counts.filter(col("_f") >= 0)
    val docRow = counts.filter(col("_f") === -1L)
    val tot = perB.agg(
      coalesce(sum("_tc"), lit(0L)).as("_tt"),
      coalesce(sum("_rc"), lit(0L)).as("_rt"))
    val prior = docRow.agg(
      (log(coalesce(sum("_tc"), lit(0L)) + alpha) -
        log(coalesce(sum("_rc"), lit(0L)) + alpha)).as("bias"))
    val sparse = perB.crossJoin(broadcast(tot))
      .withColumn("_w",
        log((col("_tc") + alpha) / (col("_tt") + alpha * buckets)) -
          log((col("_rc") + alpha) / (col("_rt") + alpha * buckets)))
    sparse
      .groupBy()
      .agg(map_from_entries(collect_list(struct(col("_f").cast("int"), col("_w"))))
          .as("_m"),
        coalesce(first(col("_tt")), lit(0L)).as("_tt"),
        coalesce(first(col("_rt")), lit(0L)).as("_rt"))
      .select(
        transform(sequence(lit(0), lit(buckets - 1)), b =>
          coalesce(element_at(col("_m"), b),
            log(lit(alpha) / (col("_tt") + alpha * buckets)) -
              log(lit(alpha) / (col("_rt") + alpha * buckets))))
          .as("weights"))
      .crossJoin(broadcast(prior))
  }

  /**
   * FastText-style classifier, INFERENCE half: the 1-row model frame
   * broadcasts via crossJoin and each document's score is
   * `bias + fold(features, 0.0, acc + weights[f])` — a sequential
   * codegen'd fold over the doc's OWN hashed features with element_at
   * into the broadcast weight array. Map-only: no join, no per-doc
   * shuffle; 100 TB inference costs exactly the scan. Output
   * `(id, score, pred_pos)` — score is the raw log-odds (round at the
   * query edge if hashing cross-engine), pred its sign.
   */
  def linearClassifierScore(docs: DataFrame, model: DataFrame,
                            idCol: String, textCol: String,
                            buckets: Int = 1024,
                            bigrams: Boolean = true): DataFrame =
    docs.crossJoin(broadcast(model))
      .withColumn("_score",
        aggregate(hashedNgramBuckets(col(textCol), buckets, bigrams),
          lit(0.0),
          (acc, f) => acc + element_at(col("weights"), f.cast("int") + 1))
          + col("bias"))
      .select(col(idCol).as("id"), col("_score").as("score"),
        (col("_score") > 0).as("pred_pos"))

  /**
   * CCNet-style perplexity bucketing: per-language head/middle/tail
   * terciles (bucket 1 = most fluent) of the unigram-LM score — the
   * step between [[unigramLogProb]]'s scoring (row 97) and a mixture
   * plan, because CCNet's recipe keeps/weights by LM-score band WITHIN
   * each language, never across (a "fluent" Spanish score and a
   * "fluent" English score are not comparable numbers). The score is
   * ROUNDED (1e-3) BEFORE the ntile ordering so both engines order the
   * exact same keys — the raw double differs in the last ulps across
   * engines and an ordering that reads it would make the boundary doc
   * engine-dependent; ties inside a rounded score break by id.
   *
   * Scale shape: language cardinality is FIXED, so
   * `ntile().over(Window.partitionBy(lang))` would funnel each
   * language's ENTIRE corpus slice through one task — per-partition
   * work densifies linearly with corpus size on a constant task count
   * (the `WindowExec: No Partition Defined`-class trap, measured ~5.1×
   * warm cpu for 2.5× data before this rewrite). Instead: ONE
   * distributed total sort over (lang, _lp desc, id) assigns a GLOBAL
   * rank via [[Analytics.globalRowNumber]]; a partial-agg'd per-lang
   * (offset = min rank − 1, n = count) frame — language-cardinality
   * rows — broadcasts back, and the exact NTile split formula maps the
   * local rank r = rank − offset to its bucket: with q = n div k and
   * rem = n mod k, the first rem buckets take q+1 rows each (SQL NTILE's
   * exact rule), so bucket = ⌈r/(q+1)⌉ while r ≤ rem·(q+1), else
   * rem + ⌈(r − rem·(q+1))/q⌉. All-BIGINT arithmetic — ranks, and
   * therefore buckets, are identical to the window form by construction
   * (the order is total: id breaks ties), so the NTILE oracle replays
   * unchanged; only the plan differs — every stage is now
   * corpus-parallel regardless of how few languages exist.
   */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        langCol: String, nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 2, "perplexityBuckets needs nBuckets >= 2")
    // slim to exactly the sort payload before the total sort: lang rides
    // the kernel's aggregation key (id-functional — no join back on id,
    // which would pay two more full-cardinality exchanges of
    // incompressible distinct ids), and the raw logprob double never
    // appears downstream (ordering and the rollup both read the rounded
    // _lp) — every byte here is carried through the range-partitioned
    // exchange at full corpus cardinality
    val scored = unigramLogProb(
        docs.select(col(idCol), col(langCol).as("lang"), col(textCol)),
        idCol, textCol, carryCols = Seq("lang"))
      .select(col("id"), col("lang"),
        (floor(col("logprob") * 1000 + 0.5) / 1000).as("_lp"))
    val ranked = Analytics.globalRowNumber(
      scored, Seq(col("lang"), col("_lp").desc, col("id")), "_gr")
    val perLang = ranked.groupBy("lang")
      .agg((min(col("_gr")) - 1L).as("_off"), count(lit(1)).as("_n"))
    ranked.join(broadcast(perLang), "lang")
      .withColumn("_r", col("_gr") - col("_off"))
      .withColumn("_q", expr(s"_n div ${nBuckets}L"))
      .withColumn("_rem", col("_n") % lit(nBuckets.toLong))
      .withColumn("_head", col("_rem") * (col("_q") + 1L))
      .withColumn("bucket",
        when(col("_r") <= col("_head"),
          expr("(_r - 1L) div (_q + 1L) + 1L"))
          .otherwise(expr("_rem + (_r - _head - 1L) div _q + 1L"))
          .cast("int"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("_lp")).as("min_lp"),
        max(col("_lp")).as("max_lp"))
  }
}
