package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Residency

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, document fingerprinting.
  * All are pure Catalyst expression compositions (no UDFs) — codegen'd,
  * embarrassingly parallel, no shuffle: they scale linearly with input
  * splits at 100 TB. */
object TextOps {

  /** Whitespace tokenization (training-data token accounting baseline). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Token count via whitespace runs. */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, 0).otherwise(size(tokens(c))).cast(LongType)

  /** Sequence packing for LLM pretraining (concatenation packing):
    * documents are laid head-to-tail per SHARD in deterministic id order;
    * training-sequence boundaries fall every `seqLen` tokens, and a
    * document may span a boundary — the standard pack-then-attention-mask
    * pretraining layout. Returns one row per document:
    * (id, shard, n_tokens, start_seq, start_off, end_seq) — the 0-based
    * within-shard sequence indices covering the document's tokens and the
    * offset inside the first one. A zero-token document occupies no
    * positions (start_seq = end_seq at its start offset) but keeps a
    * defined row.
    *
    * Scale shape: the ONLY ordered pass is a running-sum window
    * PARTITIONED BY shard (`pmod(id, nShards)` — replayable arithmetic;
    * pre-hash ids upstream if the id space is clustered), so no global
    * sort ever happens and each shard packs independently — exactly how a
    * 1000-executor job lays out per-shard token files. Token counting is
    * the map-only [[tokenCount]]. */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
                    seqLen: Int = 2048, nShards: Int = 16): DataFrame = {
    require(seqLen > 0, s"seqLen must be > 0, got $seqLen")
    require(nShards > 0, s"nShards must be > 0, got $nShards")
    // shard key and pack order both come from the id as a Long; a silent
    // cast would null string ids, collapsing every doc into one null
    // shard with arbitrary (nondeterministic) pack order
    require(df.schema(idCol).dataType.isInstanceOf[NumericType],
      s"packSequences needs a numeric id column; '$idCol' is " +
        s"${df.schema(idCol).dataType.simpleString} — map ids to longs first")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("id"))
    df.select(col(idCol).cast(LongType).as("id"),
        tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("shard", pmod(col("id"), lit(nShards.toLong)))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("id"), col("shard"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / seqLen).cast(LongType)
          .as("start_seq"),
        ((col("cum") - col("n_tokens")) % seqLen).cast(LongType)
          .as("start_off"),
        floor(when(col("n_tokens") > 0, col("cum") - 1)
            .otherwise(col("cum") - col("n_tokens")) / seqLen).cast(LongType)
          .as("end_seq"))
  }

  /** BPE-ish subword count estimate: word-piece regex match — letter runs,
    * digit runs, single punctuation marks — approximating a byte-level
    * BPE's pre-tokenizer. Match-based (RE2-compatible pattern, no
    * lookarounds) so the same regex runs on any engine. */
  val subwordPattern = "[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]"
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(c, lit(subwordPattern), lit(0))).cast(LongType)

  /** Character n-gram shingles of the normalized text (basis for MinHash /
    * Jaccard dedup). Uses sequence+transform — one pass, no UDF. */
  def charShingles(c: Column, k: Int = 5): Column =
    charShinglesFromNorm(lower(regexp_replace(c, "\\s+", " ")), k)

  /** [[charShingles]] over an ALREADY-NORMALIZED string column — pass a
    * materialized column reference, not an expression: the per-position
    * lambda references `norm` once per shingle, and an inlined
    * normalize chain re-runs `lower ∘ regexp_replace` per position —
    * O(length²) per document (the [[wordNgrams]] perf-contract class).
    * The batch dedup path avoids array building entirely
    * ([[graft.dedup.Dedup]]'s shingleRows); this form is for per-row
    * signature expressions (streaming). */
  def charShinglesFromNorm(norm: Column, k: Int): Column =
    when(length(norm) < k, array(norm)).otherwise(
      array_distinct(transform(
        sequence(lit(1), length(norm) - k + 1),
        i => norm.substr(i, lit(k)))))

  /** Word n-grams over whitespace tokens.
    *
    * PERF CONTRACT: the n ≥ 2 form references its token array inside a
    * transform lambda, and Catalyst re-evaluates an INLINED argument per
    * element — O(tokens²) per document when `c` is raw text. At corpus
    * scale, materialize the tokens in their own projection first and call
    * [[wordNgramsFromTokens]] on the column reference (the two-step shape
    * `ngramFeatures`/`contaminationOverlap` use); n = 1 is simply the
    * token array and has no such hazard. */
  def wordNgrams(c: Column, n: Int = 3): Column = wordNgramsFromTokens(tokens(c), n)

  /** [[wordNgrams]] over an ALREADY-MATERIALIZED token-array column —
    * pass a plain column reference (cheap per-element reads), not an
    * expression, or the lambda re-evaluates it per element. */
  def wordNgramsFromTokens(ts: Column, n: Int): Column =
    // n = 1: the n-gram list IS the token list (including the [""] that
    // tokens() yields for empty text — the short-doc convention holds)
    if (n == 1) ts
    else when(size(ts) < n, array(concat_ws(" ", ts))).otherwise(
      transform(sequence(lit(0), size(ts) - n),
        i => concat_ws(" ", slice(ts, i + 1, lit(n)))))

  // Tiny public stopword marker sets per language — the n-gram-heuristic
  // language identifier scores languages by marker-token hits. Public so
  // the oracle SQL mirror can be generated from the same table.
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "dans", "une"),
    "es" -> Seq("el", "la", "los", "las", "es", "en", "que", "una"))

  /** Language-ID heuristic: argmax over marker-token hit counts; 'und'
    * (undetermined) when nothing matches. Deterministic tie-break by
    * language code. */
  def langId(c: Column): Column = {
    val toks = transform(tokens(lower(c)), t => regexp_replace(t, "[^\\p{L}]", ""))
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      val score = size(array_intersect(array_distinct(toks), array(ms.map(lit): _*)))
      struct(score.as("score"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Stopword ratio: fraction of (letter-normalized) tokens that are
    * stopwords of `lang` (the marker sets double as the stopword lists).
    * High-signal cheap quality feature — near-0 for gibberish/code, ~0.3–
    * 0.6 for natural prose. */
  def stopwordRatio(c: Column, lang: String = "en"): Column = {
    val ws = markers(lang)
    val toks = transform(tokens(lower(c)), t => regexp_replace(t, "[^\\p{L}]", ""))
    val hits = size(filter(toks, t => t.isInCollection(ws)))
    when(size(toks) > 0, round(hits.cast(DoubleType) / size(toks), 6))
      .otherwise(lit(0.0))
  }

  /** Quality score in [0,1]: blend of length band, alpha ratio, punctuation
    * ratio and mean word length — the classic cheap pre-filter for web-scale
    * corpora. */
  def qualityScore(c: Column): Column = {
    val len = length(c).cast(DoubleType)
    val alpha = length(regexp_replace(c, "[^\\p{L} ]", "")).cast(DoubleType)
    val punct = length(regexp_replace(c, "[^.,;:!?]", "")).cast(DoubleType)
    val nTok = tokenCount(c).cast(DoubleType)
    val lenScore = least(len / lit(500.0), lit(1.0))
    val alphaScore = when(len > 0, alpha / len).otherwise(lit(0.0))
    val punctScore = when(len > 0, lit(1.0) - least(punct / len * 10, lit(1.0))).otherwise(lit(0.0))
    val wordLen = when(nTok > 0, len / nTok).otherwise(lit(0.0))
    val wordScore = when(wordLen.between(3, 12), lit(1.0)).otherwise(lit(0.5))
    round(lenScore * 0.25 + alphaScore * 0.35 + punctScore * 0.2 + wordScore * 0.2, 6)
  }

  /** Content fingerprint: 64-bit hash of whitespace/case-normalized text —
    * the exact-dedup key. */
  def fingerprint(c: Column): Column =
    xxhash64(lower(regexp_replace(c, "\\s+", " ")))

  /** Rolling-hash winnowing-style fingerprint: the MIN of the shingle
    * hashes (a 1-permutation MinHash) — robust to small edits, constant
    * size per document. */
  def minShingleHash(c: Column, k: Int = 5): Column =
    array_min(transform(charShingles(c, k), s => xxhash64(s)))

  /** PII/noise redaction for training corpora: emails, URLs, then long
    * digit runs replaced by typed placeholder tokens. The patterns are
    * deliberately RE2-compatible (no backrefs or lookaround) so any SQL
    * engine can replay them byte-for-byte. Map-only, codegen'd. */
  def redact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "https?://[^\\s]+", "<URL>"),
      "[0-9]{9,}", "<NUM>")

  /** Fixed-size character chunking with overlap (training-window prep):
    * one doc → ⌈(len−overlap)/stride⌉ windows of `size` chars starting
    * every `stride = size − overlap` chars (short docs → 1 chunk).
    * Map-only explode fan-out — the same 1→n shape as frame sampling, no
    * shuffle. */
  def chunk(df: DataFrame, textCol: String, idCol: String,
            size: Int = 256, overlap: Int = 32): DataFrame = {
    require(size > overlap && overlap >= 0, s"need size > overlap ≥ 0, got $size/$overlap")
    val stride = size - overlap
    val n = greatest(
      ceil((length(col("t")) - lit(overlap)).cast(DoubleType) / stride).cast(LongType),
      lit(1L))
    df.select(col(idCol).as("doc_id"), col(textCol).as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0L), n - 1)).as("chunk_no"))
      .select(col("doc_id"), col("chunk_no"),
        col("t").substr((col("chunk_no") * stride + 1).cast(IntegerType), lit(size))
          .as("chunk"))
  }

  /** Sentence segmentation: split into runs terminated by `.!?` (plus an
    * unterminated tail), one row per sentence with its ORIGINAL position
    * (positions are assigned before empty-after-trim filtering, so they
    * are stable document offsets). Match-based RE2-safe pattern — no
    * lookbehind — so a SQL engine replays the same segmentation. Map-only
    * explode fan-out, like [[chunk]]. Heuristic by design (abbreviations
    * split); the training-data uses — sentence-level dedup, quality
    * sampling, context windowing — want cheap and reproducible over
    * linguistically perfect. */
  def sentences(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(regexp_extract_all(col(textCol),
          lit("[^.!?]+[.!?]+|[^.!?]+$"), lit(0))).as(Seq("sent_no", "s")))
      .select(col("doc_id"), col("sent_no"), trim(col("s")).as("sentence"))
      .filter(col("sentence") =!= "")

  /** Sequence packing for training — the "concatenate and chop" scheme
    * GPT-style pretraining uses: within a shard, documents are laid out
    * contiguously in id order and the stream is chopped into fixed
    * `contextLen` token windows; each document's pack is the window its
    * FIRST token lands in (a document crossing a boundary straddles into
    * the next window — the trainer's chop, not the packer's, decides
    * truncation/continuation). Returns (id, n_tokens, shard, pack_id)
    * with pack_id globally unique (shard ⊕ per-shard window index).
    *
    * Scale shape: layout position is inherently sequential, so the corpus
    * is first split into `shards` INDEPENDENT id-hash shards and the
    * cumulative-sum window runs per shard — parallelism = shards, and no
    * global single-partition window ever exists. Packs never cross
    * shards, and per-shard results are deterministic at any parallelism.
    * True reset-accumulator bin packing (no straddling) needs stateful
    * sequential passes that a 100 TB shuffle should not pay for; the
    * chop scheme is what large pretraining corpora actually use. */
  def packByTokenBudget(df: DataFrame, textCol: String, idCol: String,
                        contextLen: Int = 2048, shards: Int = 64): DataFrame =
    // one layout implementation: [[packSequences]] computes the per-shard
    // cumulative layout; this view keeps the historical output shape —
    // a single globally-unique pack_id (shard ⊕ the window the doc's
    // FIRST token lands in)
    packSequences(df, textCol, idCol, contextLen, shards)
      .select(col("id"), col("n_tokens"), col("shard"),
        (col("shard") * lit(1000000000L) + col("start_seq")).as("pack_id"))

  /** Gopher-style repetition signal (Rae et al. 2021, "Scaling Language
    * Models", §A1.1 — public): the fraction of all tokens taken by the
    * single most frequent token. High values flag boilerplate/template
    * documents that length or stopword filters miss. Shape: explode →
    * codegen'd count aggregate → max/sum aggregate — one shuffle on
    * (doc, token), fixed-width rows only. */
  def topWordRatio(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((max(col("c")).cast(DoubleType) / sum(col("c"))).as("top_word_ratio"))

  /** Hostnames of every http(s) URL in the text, lowercased — the basis
    * of domain-level corpus curation (per-domain stats, blocklists,
    * domain-stratified sampling à la web-crawl pipelines). Match-based
    * RE2-compatible pattern (engine-portable); map-only. */
  def extractDomains(c: Column): Column =
    transform(regexp_extract_all(c, lit("https?://([A-Za-z0-9.-]+)"), lit(1)),
      d => lower(d))

  /** URL canonicalization — the normalization pass that makes URL-keyed
    * dedup of a web crawl actually collapse what it should: lowercase the
    * scheme+host (path case is significant, host case is not), drop the
    * #fragment, strip utm_* tracking parameters (and a now-dangling `?`
    * or `&`), and remove a trailing slash. Each step is one RE2-safe
    * `regexp_replace` — no lookarounds, no backrefs — so any engine
    * replays the exact same bytes; map-only and codegen'd. */
  def canonicalizeUrl(c: Column): Column = {
    // scheme and authority lowercase via extract+lower (regexp_replace
    // can't case-fold a capture); the path/query/fragment tail keeps its
    // case. Inputs without a scheme pass through unchanged.
    val scheme = lower(regexp_extract(c, "^([A-Za-z]+)://", 1))
    val authority = lower(regexp_extract(c, "^[A-Za-z]+://([^/?#]*)", 1))
    val rest = regexp_extract(c, "^[A-Za-z]+://[^/?#]*(.*)$", 1)
    val noFragment = regexp_replace(rest, "#.*$", "")
    val noUtm = regexp_replace(noFragment, "[?&]utm_[A-Za-z0-9_]*=[^&#]*", "")
    // '&' → '?' repair, applied ONLY when the utm strip actually removed
    // the leading '?' (original tail had one, survivor doesn't) — '&' is a
    // legal path character, so an unconditional rewrite would corrupt
    // query-less URLs like /a&b. The pattern char class excludes '&' so
    // the FIRST surviving separator is promoted (a greedy [^?]* would
    // backtrack to the last one).
    val promoted = regexp_replace(noUtm, "^([^?&]*)&", "$1?")
    val fixedQuery = when(
      instr(noFragment, "?") > 0 && instr(noUtm, "?") === 0, promoted)
      .otherwise(noUtm)
    val noSlash = regexp_replace(fixedQuery, "/$", "")
    when(scheme === "", c)
      .otherwise(concat(scheme, lit("://"), authority, noSlash))
  }

  /** Full Gopher-family repetition signals (Rae et al. 2021 §A1.1) per
    * document: `dup_word_frac` (1 − distinct/total words — the "duplicate
    * line fraction" analog for newline-free corpora), `top_bigram_frac`
    * (share of bigram occurrences taken by the most frequent bigram) and
    * `dup_bigram_frac` (share of bigram occurrences whose bigram appears
    * more than once). Together they catch looped/template text that
    * single-token ratios miss.
    *
    * Shape: one posexplode of the token stream; word stats are a doc-key
    * aggregate, bigrams come from a `lead` window over the SAME doc-key
    * partitioning (no HOF in the evaluated path — explode + window + agg
    * are all codegen'd), and the (doc, bigram) count reuses the hash(doc)
    * exchange. Single-word docs get 0.0 bigram signals. */
  def repetitionSignals(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val words = df.select(col(idCol).as("doc_id"),
        posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val wStats = words.groupBy("doc_id").agg(
      count(lit(1)).as("nw"), count_distinct(col("w")).as("dw"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = words
      .withColumn("nxt", lead(col("w"), 1).over(wOrd))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w"), col("nxt")).as("g"))
    val bStats = bigrams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        max(col("c")).as("mx"), sum(col("c")).as("tot"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup"))
    wStats.join(bStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(lit(1.0) - col("dw").cast(DoubleType) / col("nw"), 6)
          .as("dup_word_frac"),
        round(coalesce(col("mx").cast(DoubleType) / col("tot"), lit(0.0)), 6)
          .as("top_bigram_frac"),
        round(coalesce(col("dup").cast(DoubleType) / col("tot"), lit(0.0)), 6)
          .as("dup_bigram_frac"))
  }

  /** C4-style boilerplate line removal (Raffel et al. 2020 §2.2, public):
    * drop every line that occurs at least `minCount` times ACROSS THE
    * CORPUS (cookie banners, nav menus, legal footers — the cross-document
    * repetition that per-document signals can't see), preserving the
    * order of surviving lines. Returns (doc_id, cleaned); a doc whose
    * every line is boilerplate comes back as the empty string, not a
    * dropped row.
    *
    * Scale shape: posexplode lines → corpus-wide line-count aggregate —
    * map-side partials collapse each partition's repeats of a hot
    * boilerplate line to ONE shuffle row, so the very skew that makes a
    * line boilerplate never skews the shuffle — → anti-join against the
    * hot set → per-doc reassembly ordered by original position. Two
    * shuffles total (line key, doc key), both fixed-shape. */
  def removeBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
                             minCount: Int = 3): DataFrame = {
    require(minCount > 1, s"minCount must be > 1, got $minCount")
    val lines = df.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    // blank/whitespace-only lines are structure (paragraph breaks), not
    // boilerplate — any corpus has ≥ minCount of them, and removing them
    // would strip every paragraph break from every document
    val hot = lines.filter(trim(col("line")) =!= "")
      .groupBy("line").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .select("line")
    val kept = lines.join(hot, Seq("line"), "left_anti")
      .groupBy("doc_id")
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          e => e.getField("line"))).as("cleaned"))
    df.select(col(idCol).as("doc_id")).join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Per-document boilerplate-line fraction — the QUALITY-SIGNAL form of
    * [[removeBoilerplateLines]]: instead of rewriting documents, score
    * how much of each one is corpus-repeated lines (cookie banners,
    * nav menus, legal footers). High-ratio documents are template pages
    * a curation pass drops whole rather than stripping. Blank lines are
    * structure, not content — excluded from both counts, matching the
    * rewriter's contract. A document with no non-blank lines reports
    * (0, 0, NULL).
    *
    * Scale shape: one line-level count with map-side partials builds
    * the hot set (distinct lines with count ≥ minCount); the line
    * stream left-joins it (one row per hot line on the build side —
    * AQE-broadcastable) and collapses per doc. Returns
    * (doc_id, n_lines, n_boiler, boiler_ratio). */
  def boilerplateRatio(df: DataFrame, textCol: String, idCol: String,
                       minCount: Int = 3): DataFrame = {
    require(minCount > 1, s"minCount must be > 1, got $minCount")
    val lines = df.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "\n")).as("line"))
      .filter(trim(col("line")) =!= "")
    val hot = lines.groupBy("line").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select(col("line"), lit(1L).as("__hot"))
    val perDoc = lines.join(hot, Seq("line"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_lines"),
        sum(coalesce(col("__hot"), lit(0L))).as("n_boiler"))
    df.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        when(col("n_lines") > 0, round(
          col("n_boiler").cast(DoubleType) / col("n_lines"), 6)))
  }

  /** Corpus-wide heavy hitters: the `k` most frequent tokens with their
    * counts, ties broken by token ascending. Returns (term, n).
    *
    * Scale shape: explode → codegen'd count aggregate with map-side
    * partials (the shuffle carries one row per distinct token per
    * partition, never the token stream), then `orderBy.limit(k)` which
    * Spark plans as TakeOrderedAndProject — a bounded per-partition heap
    * merged on the driver, NOT a global sort: k rows per partition on the
    * final collect, no full-corpus ordering ever materializes. */
  def heavyHitters(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(tokens(lower(col(textCol)))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(k)

  /** Count-Min Sketch term-frequency estimates (Cormode & Muthukrishnan
    * 2005, "An Improved Data Stream Summary: The Count-Min Sketch and its
    * Applications", public) probed at the exact top-`topK` terms:
    * `depth` md5-derived hash rows × `width` buckets, each cell the count
    * of token occurrences hashing into it; a term's estimate is the MIN
    * over its `depth` cells — always ≥ the true count, with overcount
    * bounded by collisions. Returns (term, exact, est, overcount) for the
    * (count desc, term asc) top-`topK` terms, every column exact integer
    * arithmetic on a deterministic hash — the whole sketch build + probe
    * replays in SQL and hash-checks.
    *
    * Why alongside [[heavyHitters]]: the heap answers "what are the top
    * terms"; the CMS is the CONSTANT-SIZE (depth·width cells, mergeable
    * by cell-wise addition) summary that answers "how often does term X
    * occur" for ANY later probe without rescanning the corpus — the
    * frequency-sketch serving layout at 100 TB, where the exact vocab
    * table is billions of rows but the sketch is 4·256 longs.
    *
    * Scale shape: ONE corpus shuffle — the (term, count) vocabulary
    * aggregate with map-side partials — feeds BOTH the cell build and
    * the probe top-k through a ReusedExchange; md5 hashing runs over
    * DISTINCT terms weighted by their counts (identical cell sums to
    * hashing every occurrence, at |vocab| instead of |token-stream| hash
    * cost). The probe side is a TakeOrderedAndProject; the probe⋈cells
    * join broadcasts the ≤ depth·width-row cells table. */
  def cmsTermCounts(df: DataFrame, textCol: String, depth: Int = 4,
                    width: Int = 256, topK: Int = 20): DataFrame = {
    cmsValidate(depth, width, topK)
    val vocab = cmsVocab(df, textCol)
    cmsProbe(cmsCellsFromVocab(vocab, depth, width), vocab, depth, width, topK)
  }

  /** The (j, b, n) cell table of a Count-Min Sketch over `df`'s token
    * stream — the MERGEABLE artifact: cell sums are linear in the input,
    * so sketches of disjoint corpora combine by cell-wise addition
    * ([[cmsMergedCounts]]) and a sketch never needs its corpus again. */
  def cmsCells(df: DataFrame, textCol: String, depth: Int = 4,
               width: Int = 256): DataFrame = {
    cmsValidate(depth, width, 1)
    cmsCellsFromVocab(cmsVocab(df, textCol), depth, width)
  }

  /** Sketch algebra: per-`groupCol` CMS cells for each of `groups`,
    * MERGED by cell-wise addition, probed at the exact top-`topK` terms
    * of the groups' union — the property the CMS exists for at 100 TB:
    * per-shard/per-day sketches combine into any rollup WITHOUT
    * rescanning a corpus. Cell sums are linear, so the merged sketch is
    * provably identical to one built directly on the union (spec-pinned),
    * which also makes the oracle the direct-union replay. Same
    * (term, exact, est, overcount) contract as [[cmsTermCounts]]. */
  def cmsMergedCounts(df: DataFrame, textCol: String, groupCol: String,
                      groups: Seq[String], depth: Int = 4, width: Int = 256,
                      topK: Int = 20): DataFrame = {
    cmsValidate(depth, width, topK)
    require(groups.nonEmpty, "cmsMergedCounts needs at least one group")
    // dedupe: a repeated group would add its cells once per mention while
    // the isin-based union vocab counts rows once, silently breaking the
    // merged ≡ direct-union law
    val gs = groups.distinct
    val merged = gs
      .map(g => cmsCells(df.filter(col(groupCol) === g), textCol, depth, width))
      .reduce(_ unionByName _)
      .groupBy("j", "b").agg(sum(col("n")).as("n"))
    val unionVocab = cmsVocab(df.filter(col(groupCol).isin(gs: _*)), textCol)
    cmsProbe(merged, unionVocab, depth, width, topK)
  }

  private def cmsValidate(depth: Int, width: Int, topK: Int): Unit = {
    require(depth > 0 && depth <= 16, s"depth must be in [1, 16], got $depth")
    require(width > 1 && width <= 65536,
      s"width must be in [2, 65536], got $width")
    require(topK > 0, s"topK must be > 0, got $topK")
  }

  private def cmsVocab(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  // row-j bucket: 16 md5 bits of (term, row) arithmetically decoded —
  // the same SQL-mirrorable trick as hashEmbed/dsirCounts
  private def cmsCellOf(depth: Int, width: Int): Seq[Column] = {
    def bucket(j: Int): Column = {
      def hx(i: Int): Column = expr(
        s"instr('0123456789abcdef', substring(md5(concat(w, '_$j')), $i, 1)) - 1")
      pmod(((hx(1) * 16 + hx(2)) * 16 + hx(3)) * 16 + hx(4), lit(width))
        .cast(IntegerType)
    }
    (0 until depth).map(j => struct(lit(j).as("j"), bucket(j).as("b")))
  }

  private def cmsCellsFromVocab(vocab: DataFrame, depth: Int,
                                width: Int): DataFrame =
    vocab
      .select(col("cnt"), explode(array(cmsCellOf(depth, width): _*)).as("c"))
      .groupBy(col("c.j").as("j"), col("c.b").as("b"))
      .agg(sum(col("cnt")).as("n"))

  private def cmsProbe(cells: DataFrame, vocab: DataFrame, depth: Int,
                       width: Int, topK: Int): DataFrame =
    vocab.withColumnRenamed("cnt", "exact")
      .orderBy(col("exact").desc, col("w")).limit(topK)
      .select(col("w"), col("exact"),
        explode(array(cmsCellOf(depth, width): _*)).as("c"))
      .select(col("w"), col("exact"), col("c.j").as("j"), col("c.b").as("b"))
      .join(broadcast(cells), Seq("j", "b"))
      .groupBy(col("w").as("term"))
      .agg(first(col("exact")).as("exact"), min(col("n")).as("est"))
      .select(col("term"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overcount"))

  /** Frequency-rank vocabulary: the `vocabSize` most frequent tokens with
    * dense 1-based ids assigned by (count DESC, term ASC) — the id 0 is
    * reserved for OOV. The induction half of a word-level tokenizer.
    *
    * The ranking window runs AFTER [[heavyHitters]]' bounded-heap top-k,
    * so it orders `vocabSize` rows, never the full vocabulary — a single
    * partition of at most `vocabSize` fixed-width rows. */
  def vocabulary(df: DataFrame, textCol: String, vocabSize: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("term"))
    heavyHitters(df, textCol, vocabSize)
      .withColumn("tok_id", row_number().over(w))
      .select(col("term"), col("tok_id"))
  }

  /** Word-level tokenization to ids: every token mapped through
    * [[vocabulary]] (OOV → 0), emitted as (doc_id, pos, tok_id) rows in
    * original token order — the encoding half of the tokenizer, and the
    * hand-off shape for [[packByTokenBudget]]-style layout.
    *
    * Scale shape: the vocab is `vocabSize` rows — broadcast onto the
    * exploded token stream (map-only lookup; the corpus never shuffles
    * for the join). A left join keeps OOV tokens as rows (coalesced to
    * id 0) rather than silently dropping them. */
  def tokenizeToIds(df: DataFrame, textCol: String, idCol: String,
                    vocabSize: Int = 1000): DataFrame = {
    val vocab = vocabulary(df, textCol, vocabSize)
    df.select(col(idCol).as("doc_id"),
        posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
      .join(broadcast(vocab), Seq("term"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("tok_id"), lit(0)).as("tok_id"))
  }

  /** Feature-hashed text "embedding" — the hashing trick (Weinberger et
    * al. 2009, public): a signed token-count vector in `dim` buckets.
    * Bucket and sign derive from md5 CHARACTER arithmetic (no
    * engine-specific hash function), so the whole vector is SQL-mirrorable
    * and the signed construction keeps collision noise zero-mean. This is
    * the no-model bridge from raw text to the similarity tier: cosine /
    * ANN / near-dup operators consume the output like any embedding
    * column. Values are small integer counts held in doubles — bit-exact
    * across engines, no rounding needed. Docs with no tokens get the zero
    * vector. Returns (doc_id, embedding: array<double>).
    *
    * Shape: explode → codegen'd (doc, bucket) sum with map-side partials —
    * the shuffle carries at most `dim` fixed-width rows per doc — then a
    * per-doc assembly into a dense array. */
  def hashEmbed(df: DataFrame, textCol: String, idCol: String,
                dim: Int = 64): DataFrame = {
    require(dim > 0 && dim <= 65536, s"dim must be in [1, 65536], got $dim")
    def hx(i: Int): Column =
      expr(s"instr('0123456789abcdef', substring(md5(w), $i, 1)) - 1")
    val words = df.select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
    val bucket = pmod(((hx(1) * 16 + hx(2)) * 16 + hx(3)) * 16 + hx(4),
      lit(dim)).cast(IntegerType)
    val sign = when(hx(5) % 2 === 0, lit(1.0)).otherwise(lit(-1.0))
    val sums = words.select(col("doc_id"), bucket.as("b"), sign.as("s"))
      .groupBy("doc_id", "b").agg(sum(col("s")).as("x"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("b"), col("x")))).as("m"))
    df.select(col(idCol).as("doc_id")).distinct()
      .join(sums, Seq("doc_id"), "left")
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          b => coalesce(try_element_at(col("m"), b), lit(0.0))).as("embedding"))
  }

  /** Gopher-style STRUCTURAL quality rules (Rae et al. 2021 §A1.1, public)
    * per document — the rule family [[repetitionSignals]] doesn't cover:
    * word count band, mean word length band, symbol-to-word ratio
    * (`#`/`…`), bullet-started and ellipsis-ended line fractions, and the
    * fraction of words containing at least one letter; `passes` is the
    * conjunction at the published thresholds. Returns
    * (doc_id, n_words, mean_word_len, symbol_word_ratio, bullet_line_frac,
    * ellipsis_line_frac, alpha_word_frac, passes).
    *
    * Every signal is rational arithmetic over integer counts (no
    * transcendentals), so the whole report — including the boolean — is
    * bit-reproducible against a SQL oracle. Map-only, codegen'd except the
    * one array-filter lambda; no shuffle: linear in input splits at
    * 100 TB. */
  def gopherSignals(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val c = col(textCol)
    val nWords = tokenCount(c)
    val nLines = size(split(c, "\n")).cast(LongType)
    val nonSpace = length(regexp_replace(c, "\\s", "")).cast(DoubleType)
    val symbols = length(regexp_replace(c, "[^#…]", "")).cast(DoubleType)
    val bullets = size(regexp_extract_all(c, lit("(?m)^\\s*[-*•]"), lit(0)))
      .cast(DoubleType)
    val ellipses = size(regexp_extract_all(c, lit("(?m)(\\.\\.\\.|…)$"), lit(0)))
      .cast(DoubleType)
    val alphaWords = size(filter(tokens(c), t => t =!= "" && t.rlike("\\p{L}")))
      .cast(DoubleType)
    val meanWordLen = when(nWords > 0, round(nonSpace / nWords, 6)).otherwise(lit(0.0))
    val symbolRatio = when(nWords > 0, round(symbols / nWords, 6)).otherwise(lit(0.0))
    val bulletFrac = round(bullets / nLines, 6)   // nLines ≥ 1 always
    val ellipsisFrac = round(ellipses / nLines, 6)
    val alphaFrac = when(nWords > 0, round(alphaWords / nWords, 6)).otherwise(lit(0.0))
    df.select(col(idCol).as("doc_id"),
        nWords.as("n_words"), meanWordLen.as("mean_word_len"),
        symbolRatio.as("symbol_word_ratio"), bulletFrac.as("bullet_line_frac"),
        ellipsisFrac.as("ellipsis_line_frac"), alphaFrac.as("alpha_word_frac"))
      // thresholds compare the ROUNDED signals (identical bytes on any
      // engine), so the boolean is as hash-stable as the doubles
      .withColumn("passes",
        col("n_words").between(10, 100000) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("symbol_word_ratio") <= 0.1 &&
        col("bullet_line_frac") <= 0.9 &&
        col("ellipsis_line_frac") <= 0.3 &&
        col("alpha_word_frac") >= 0.8)
  }

  /** HTML/markup stripping for crawl-derived corpora: drop
    * `<script>`/`<style>` blocks (content included), comments, then all
    * tags (replaced by a space so adjacent words don't fuse), decode the
    * six common entities (`&amp;` LAST, so `&amp;lt;` yields literal
    * `&lt;` per HTML semantics), and collapse whitespace. Every pattern is
    * RE2-compatible (non-greedy + inline flags only — no lookarounds or
    * backrefs) so a SQL engine replays the exact bytes. Map-only,
    * codegen'd. */
  def stripHtml(c: Column): Column = {
    val noScript = regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val ent = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (e, r)) =>
        regexp_replace(acc, e, java.util.regex.Matcher.quoteReplacement(r)) }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Corpus-trained bigram language-model score per document — the
    * perplexity-filter analog of web-corpus curation (CCNet/KenLM style,
    * public), self-trained on the corpus so no external model rides in:
    * mean over the document's bigrams of
    * `ln((C(w1,w2) + 1) / (C(w1·) + V))` — add-one smoothing, `C(w1·)` =
    * bigram occurrences starting with w1, `V` = corpus vocabulary size.
    * Template/boilerplate text scores high (its bigrams dominate the
    * corpus), organic-but-rare text low — the tails are what curation
    * inspects. Returns (doc_id, n_bigrams, lm_logp); docs with < 2 tokens
    * have 0 bigrams and a null score.
    *
    * Scale shape: ONE posexplode of the token stream; adjacency via a
    * doc-keyed `lead` window (same exchange as the per-doc aggregate);
    * the model is two count aggregates with map-side partials — the
    * bigram-count table is vocabulary²-bounded, not corpus-bounded — and
    * V rides in as a broadcast one-row aggregate (no driver collect).
    * Scoring joins on token keys are AQE-skew-handled (stopword bigrams
    * are hot). Lazy: like [[salientTerms]], the token stream feeds model
    * and scoring sides — a one-shot 100 TB run should persist the corpus
    * scan or accept the second derivation. */
  /** Bigram-LM sufficient counts for a document batch — the ADDITIVE
    * delta of the stored LM tier ([[graft.serve.LmService]]): bigram
    * counts (w, nxt, c) and word-occurrence counts (w, c), derived
    * exactly like [[ngramLmScore]]'s training pass (lowercased
    * whitespace tokens, per-doc lead window, empty tokens dropped).
    * Both are plain integer counts, so micro-batch deltas SUM to
    * exactly the full-corpus model (the DSIR-marginal discipline) —
    * what makes the LM the engine's ELEVENTH streamed index family —
    * and the vocabulary size V is the folded word table's ROW COUNT
    * (word counts are kept, not just the distinct set, precisely so
    * distinctness survives additive folding). ONE pass over the batch;
    * model frames are vocab/vocab²-bounded, never corpus-sized. */
  def lmBatchCounts(df: DataFrame, textCol: String,
                    idCol: String): (DataFrame, DataFrame) = {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val words = df.select(col(idCol).as("doc_id"),
        posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val bigrams = words
      .withColumn("nxt", lead(col("w"), 1).over(wOrd))
      .filter(col("nxt").isNotNull)
      .select(col("w"), col("nxt"))
    (bigrams.groupBy("w", "nxt").agg(count(lit(1)).as("c")),
      words.groupBy("w").agg(count(lit(1)).as("c")))
  }

  /** Score a document batch against a STORED bigram model — the
    * O(batch) serving form of [[ngramLmScore]] (which retrains from
    * the scored corpus every call): per batch bigram,
    * logp = ln((cbg + 1) / (cw + V)) with add-one smoothing, where cbg
    * comes from the stored bigram counts (0 when unseen — smoothing is
    * exactly what makes out-of-corpus bigrams scoreable), cw is the
    * context total derived from the model (Σ over nxt of cbg), and V
    * is the stored vocabulary size. Returns
    * (doc_id, n_bigrams, lm_logp) like the in-query form.
    *
    * CONTRACT: `bgCounts` (w, nxt, c) and `wordCounts` (w, c) must be
    * FOLDED — one row per key ([[graft.serve.LmService]] folds its
    * streamed deltas before delegating); V is wordCounts' row count,
    * which is only the vocabulary size when rows are distinct words.
    * Scoring the model's own training corpus replays [[ngramLmScore]]
    * BIT-FOR-BIT (every bigram exists, so the left joins fill exactly
    * the in-query inner-join values; identical double ops + ROUND 6) —
    * the hash-green stored-probe discipline (txt_dsir_probe
    * precedent); the held-out path is hash-certified by the
    * txt_lm_transfer face.
    *
    * Scale shape: batch-sized tokenization; joins against
    * vocab²-bounded model frames (AQE broadcasts small models); the
    * one-row V broadcasts. No corpus rescan, ever. */
  def lmScoreAgainst(docs: DataFrame, textCol: String, idCol: String,
                     bgCounts: DataFrame,
                     wordCounts: DataFrame): DataFrame = {
    // an EMPTY model means V = 0 and every smoothed denominator is
    // exactly zero — under ANSI (the Spark 4 default) that surfaces as
    // a bare DIVIDE_BY_ZERO mid-job; fail at call time with the cause
    // instead (the bootstrap-through-the-stream layout is legal to
    // BUILD empty, but must ingest before it can score)
    require(!wordCounts.isEmpty,
      "lmScoreAgainst got an EMPTY model (vocabulary size 0 — the " +
        "smoothing denominator would be zero for every bigram); train " +
        "or stream-ingest the model before scoring")
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val words = docs.select(col(idCol).as("doc_id"),
        posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val bigrams = words
      .withColumn("nxt", lead(col("w"), 1).over(wOrd))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("w"), col("nxt"))
    val cbg = bgCounts.select(col("w"), col("nxt"), col("c").as("cbg"))
    val cw = bgCounts.groupBy("w").agg(sum(col("c")).as("cw"))
    val vocab = wordCounts.agg(count(lit(1)).cast(DoubleType).as("V"))
    val scored = bigrams
      .join(cbg, Seq("w", "nxt"), "left")
      .join(cw, Seq("w"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("logp", log((coalesce(col("cbg"), lit(0L)) + 1) /
        (coalesce(col("cw"), lit(0L)) + col("V"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("logp")), 6).as("lm_logp"))
    docs.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm_logp"))
  }

  def ngramLmScore(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val words = df.select(col(idCol).as("doc_id"),
        posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val bigrams = words
      .withColumn("nxt", lead(col("w"), 1).over(wOrd))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("w"), col("nxt"))
    val bgCounts = bigrams.groupBy("w", "nxt").agg(count(lit(1)).as("cbg"))
    val ctxCounts = bigrams.groupBy("w").agg(count(lit(1)).as("cw"))
    val vocab = words.agg(count_distinct(col("w")).cast(DoubleType).as("V"))
    val scored = bigrams
      .join(bgCounts, Seq("w", "nxt"))
      .join(ctxCounts, Seq("w"))
      .crossJoin(broadcast(vocab))
      .withColumn("logp", log((col("cbg") + 1) / (col("cw") + col("V"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("logp")), 6).as("lm_logp"))
    df.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm_logp"))
  }

  private val BpeSep = "\u0001"

  /** Boundary-anchored pattern for applying merge (l, r): the pair must
    * align on WHOLE symbols — left edge at start-of-word or just after a
    * separator, right edge at end-of-word or just before one. Without the
    * anchors the pair also matches where `l` is the suffix of a longer
    * symbol (after an earlier (t,h) merge, "the" is segmented "th|e" and
    * would wrongly fuse under merge (h,e) even though its adjacent pair
    * is (th,e)). The anchors are non-consuming lookarounds, so adjacent
    * occurrences that share a separator all merge in one left-to-right
    * pass — the classic BPE greedy order ("a|a|a" under (a,a) → "aa|a"). */
  private def mergePattern(l: String, r: String): String =
    "(?:^|(?<=" + BpeSep + "))" + java.util.regex.Pattern.quote(l) + BpeSep +
      java.util.regex.Pattern.quote(r) + "(?=$|" + BpeSep + ")"

  /** BPE merge induction (Sennrich et al. 2016, "Neural Machine Translation
    * of Rare Words with Subword Units", public) — the training half of a
    * real subword tokenizer: starting from characters, repeatedly merge the
    * globally most frequent adjacent symbol pair. Returns the merge table
    * (merge_rank, left, right, pair_count), ties broken by (left, right)
    * ascending for cross-run determinism. Stops early when the best pair
    * drops below `minPairCount`.
    *
    * Scale shape: BPE statistics are over word TYPES weighted by frequency,
    * so the corpus collapses to its vocabulary table before any iteration
    * touches it — iterations run over |vocab| rows, not the corpus. Each
    * round is one codegen'd pair-explode + sum aggregate (map-side
    * partials) + a driver top-1 scalar, then a map-only merge rewrite
    * (symbols ride as a U+0001-joined string; the merge is one quoted
    * regexp_replace — left-to-right non-overlapping, the classic BPE greedy
    * order). Per-iteration lineage is truncated and re-persisted, exactly
    * like [[graft.dedup.Dedup.duplicateClusters]], so plan depth stays
    * constant across merges; all intermediates are released on exit
    * (bounded residency, nothing survives the call).
    *
    * COST MODEL: one Spark job (top-1 aggregate + map-only rewrite) PER
    * MERGE — O(numMerges) driver round-trips over the |vocab|-row type
    * table. This is the oracle-replayed reference form; a production
    * 32k-merge tokenizer should train with [[bpeMergesBatched]], which
    * applies whole batches of provably-independent merges per pass
    * (O(numMerges/batch) jobs, bit-identical output — spec-pinned) —
    * train once, then encode with [[bpeSegment]]/[[bpeTokenizeToIds]],
    * which are map-only and corpus-scale. */
  def bpeMerges(df: DataFrame, textCol: String, numMerges: Int,
                minPairCount: Long = 2L): DataFrame = Residency.scoped { s =>
    require(numMerges > 0, s"numMerges must be > 0, got $numMerges")
    val spark = df.sparkSession
    import spark.implicits._
    var seg = s.persist(s.truncate(
      df.select(explode(tokens(lower(col(textCol)))).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(concat_ws(BpeSep, split(col("word"), "")).as("seg"), col("freq"))))

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      i += 1
      val top = bpePairCounts(seg).limit(1).collect()
      if (top.isEmpty || top(0).getAs[Long]("cnt") < minPairCount) done = true
      else {
        val (l, r, cnt) = (top(0).getAs[String]("l"),
          top(0).getAs[String]("r"), top(0).getAs[Long]("cnt"))
        merges += ((i, l, r, cnt))
        val next = s.persist(s.truncate(seg.select(
          regexp_replace(col("seg"), mergePattern(l, r),
            java.util.regex.Matcher.quoteReplacement(l + r)).as("seg"),
          col("freq"))))
        next.count() // materialize before releasing the parent
        s.release(seg)
        seg = next
      }
    }
    merges.toSeq.toDF("merge_rank", "left", "right", "pair_count")
  }

  /** Weighted adjacent-pair counts over a (seg, freq) word-type table,
    * ordered by the BPE argmax contract (cnt desc, l, r asc) — the one
    * aggregate both trainers share. */
  private def bpePairCounts(seg: DataFrame): DataFrame = {
    val syms = split(col("seg"), BpeSep)
    seg.filter(size(syms) >= 2)
      .select(col("freq"), explode(
          transform(sequence(lit(0), size(syms) - 2),
            j => struct(element_at(syms, j + 1).as("l"),
              element_at(syms, j + 2).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("l"), col("r"))
  }

  /** Batched BPE trainer — BIT-IDENTICAL output to [[bpeMerges]] (the
    * spec pins it on the Sennrich corpus and on real text) at
    * O(numMerges / batch) Spark jobs instead of one per merge: each pass
    * collects the ranked pair-count head and applies the longest prefix
    * of merges that is PROVABLY independent, i.e. whose sequential
    * replay the pre-pass counts already determine.
    *
    * Independence argument (why the output is exactly sequential BPE):
    * merging (a,b)→ab only changes counts of pairs TOUCHING a, b, or
    * the new symbol ab — any pair disjoint from those three keeps its
    * exact count, and — PROVIDED ab is a brand-new symbol — every pair
    * touching ab is NEWLY CREATED (pre-count 0) and bounded by a
    * pre-pass pair touching a or b. So, scanning the ranked list: keep
    * adding pairs while each is symbol-disjoint from every earlier
    * batch member's {l, r, l+r} AND its concatenation l+r does not
    * already exist in the vocabulary (i.e. equals no previously emitted
    * merge's output — with repeated-character runs the same string can
    * arise from two factorizations, e.g. (a,a)→aa then later (a,aa):
    * a pre-existing pair (x, aa) whose count the boundary does NOT
    * bound could then INCREASE by up to count(x, a) and overtake a
    * surviving batch member, which the trim rule below can't see).
    * STOP at the first violation — its count bounds everything the
    * batch's merges can perturb or create. Batch members with count
    * EQUAL to that boundary are trimmed (a created pair could tie them
    * and win the (l, r) tie-break); if trimming empties the batch, the
    * pass degrades to the always-exact sequential top-1, so progress is
    * guaranteed and the worst case is plain [[bpeMerges]].
    *
    * Scale shape: identical per-pass plan to [[bpeMerges]] (pair
    * explode + sum over the word-TYPE table, then ONE map-only rewrite
    * folding the whole batch), with the driver collect bounded at
    * max(64, 4·batch) fixed-width rows. Lineage truncation and cache
    * residency as in [[bpeMerges]]. */
  def bpeMergesBatched(df: DataFrame, textCol: String, numMerges: Int,
                       minPairCount: Long = 2L,
                       maxBatch: Int = 64): DataFrame = Residency.scoped { s =>
    require(numMerges > 0, s"numMerges must be > 0, got $numMerges")
    require(maxBatch > 0, s"maxBatch must be > 0, got $maxBatch")
    val spark = df.sparkSession
    import spark.implicits._
    var seg = s.persist(s.truncate(
      df.select(explode(tokens(lower(col(textCol)))).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(concat_ws(BpeSep, split(col("word"), "")).as("seg"), col("freq"))))

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // output symbols of every merge emitted so far — a candidate whose
    // concatenation collides with one is a vocabulary symbol that
    // already EXISTS, so its merge can raise pre-existing pair counts
    // past the boundary (see the independence argument above)
    val emitted = scala.collection.mutable.Set.empty[String]
    var done = false
    while (merges.length < numMerges && !done) {
      val cap = math.min(maxBatch, numMerges - merges.length)
      val fetch = math.max(64, cap * 4)
      val rows = bpePairCounts(seg).limit(fetch).collect()
        .map(r => (r.getAs[String]("l"), r.getAs[String]("r"),
          r.getAs[Long]("cnt")))
      val used = scala.collection.mutable.Set.empty[String]
      val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      // None = no boundary seen (the scan covered every remaining pair)
      var boundary: Option[Long] = None
      var stop = false
      var idx = 0
      while (idx < rows.length && !stop) {
        val (l, r, c) = rows(idx)
        if (c < minPairCount) stop = true // below-threshold tail can't perturb
        else if (batch.length == cap || used(l) || used(r) || used(l + r)
            || emitted(l + r)) {
          boundary = Some(c); stop = true
        } else {
          batch += ((l, r, c)); used += l; used += r; used += (l + r)
          idx += 1
        }
      }
      if (boundary.isEmpty && !stop && rows.length == fetch)
        boundary = rows.lastOption.map(_._3) // unseen tail ≤ last fetched
      boundary.foreach { b =>
        while (batch.nonEmpty && batch.last._3 == b) batch.remove(batch.length - 1)
      }
      if (batch.isEmpty) {
        // degrade to the always-exact sequential top-1
        rows.headOption.filter(_._3 >= minPairCount) match {
          case Some(top) => batch += top
          case None => done = true
        }
      }
      if (!done) {
        batch.foreach { case (l, r, c) =>
          merges += ((merges.length + 1, l, r, c))
          emitted += (l + r)
        }
        val rewritten = batch.foldLeft(col("seg")) { case (acc, (l, r, _)) =>
          regexp_replace(acc, mergePattern(l, r),
            java.util.regex.Matcher.quoteReplacement(l + r))
        }
        val next = s.persist(s.truncate(seg.select(rewritten.as("seg"), col("freq"))))
        next.count() // materialize before releasing the parent
        s.release(seg)
        seg = next
      }
    }
    merges.toSeq.toDF("merge_rank", "left", "right", "pair_count")
  }

  /** Lexicon-weighted linear document scoring — the "word-list
    * classifier" form every big public corpus pipeline ships (C4's
    * bad-words screen, lexicon toxicity filters): each document scores
    * `bias + Σ_t tf(t)·w(t)` over a supplied (term, weight) model table
    * and is kept when the score clears `threshold`. This is also the
    * serving half of an offline-trained linear model (fastText-style
    * quality classifiers score exactly this way, with real-valued
    * weights): train elsewhere, hand the weight table in, score at
    * corpus scale.
    *
    * Scale shape: one tokenize + (doc, term) aggregate, the model table
    * broadcast (lexica and hashed linear models are KB–MB), a per-doc
    * sum, and a left join back so no-hit documents keep score = bias —
    * the corpus never shuffles except by doc key for its own aggregate.
    * With INTEGER weights (lexicon mode) every score is exact — the
    * hash-green registry face; real-valued models ride the identical
    * plan. Returns (doc_id, score, kept 0/1). */
  def lexiconScore(df: DataFrame, textCol: String, idCol: String,
                   weights: DataFrame, bias: Long = 0L,
                   threshold: Long = 0L): DataFrame = {
    val tf = df.select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("__tf"))
    val hits = tf.join(broadcast(weights.select(col("term"), col("w"))), "term")
      .groupBy("doc_id").agg(sum(col("__tf") * col("w")).as("__hit"))
    df.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("__hit"), lit(0L)) + lit(bias)).as("score"))
      .withColumn("kept",
        (col("score") >= threshold).cast(IntegerType))
  }

  /** [[lexiconScore]] with an inline Map model — the lexicon-literal
    * convenience form. */
  def lexiconScore(df: DataFrame, textCol: String, idCol: String,
                   weights: Map[String, Long], bias: Long,
                   threshold: Long): DataFrame = {
    require(weights.nonEmpty, "lexiconScore needs a non-empty lexicon")
    val spark = df.sparkSession
    import spark.implicits._
    lexiconScore(df, textCol, idCol,
      weights.toSeq.sortBy(_._1).toDF("term", "w"), bias, threshold)
  }

  /** MAP-ONLY [[lexiconScore]] for literal lexica — the 100 TB (and
    * streaming) form: each term's tf comes from a codegen'd
    * `regexp_count` over the document (term quoted, anchored to
    * whitespace/string boundaries — exactly the [[tokens]] boundary
    * definition, spec-pinned equivalent to the aggregate form), summed
    * in sorted-term order. ZERO shuffle: where the aggregate form
    * explodes the token stream and shuffles it by doc, this is one
    * projection — it rides `readStream` unchanged and never moves the
    * corpus. Right for literal word lists (the score expression is
    * O(|lexicon|) regex passes per doc); a large TRAINED model table
    * should use the broadcast-join form instead. */
  def lexiconScoreMapOnly(df: DataFrame, textCol: String, idCol: String,
                          weights: Map[String, Long], bias: Long = 0L,
                          threshold: Long = 0L): DataFrame = {
    require(weights.nonEmpty, "lexiconScoreMapOnly needs a non-empty lexicon")
    val t = lower(col(textCol))
    val score = weights.toSeq.sortBy(_._1).map { case (w, wt) =>
      lit(wt) * regexp_count(t, lit(
        "(?<=^|\\s)" + java.util.regex.Pattern.quote(w) + "(?=$|\\s)"))
        .cast(LongType)
    }.reduce(_ + _) + lit(bias)
    df.select(col(idCol).as("doc_id"), score.as("score"))
      .withColumn("kept", (col("score") >= threshold).cast(IntegerType))
  }

  // ---------------------------------------------------------------- BM25

  /** Inverted-index postings for BM25 retrieval: one row per
    * (term, doc_id) carrying the term frequency and the document length —
    * (term, doc_id, tf, dl). Built in ONE tokenize + aggregate pass: dl
    * is a map-only [[tokenCount]] riding the group keys (functionally
    * dependent on doc_id), so no second pass or self-join. Written to
    * parquet partitioned by a term hash bucket this IS a sharded inverted
    * index — a probe reads only its query terms' buckets (partition
    * pruning at the scan), the access pattern keyword search lives on at
    * 100 TB. */
  def bm25Postings(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        tokenCount(col(textCol)).as("dl"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))

  /** POSITIONAL inverted-index postings — one row per token OCCURRENCE
    * (term, doc_id, pos), the layout phrase and proximity queries need
    * ([[phraseSearchTopK]]); [[bm25Postings]]'s (term, doc, tf) cannot
    * answer "adjacent?". Same token convention as the whole BM25 family
    * (`tokens(lower(text))`), positions are 0-based array indices. One
    * posexplode, no aggregate — the frame is token-stream-sized, which
    * is exactly what a positional index is; stored partitioned by
    * [[bm25Bucket]] of the term it prunes to the query's terms like the
    * BM25 layout. */
  def positionalPostings(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "term")))
      .filter(col("term") =!= "")

  /** Exact phrase occurrence counts per document over positional
    * postings: docs containing the terms of `phrase` CONSECUTIVELY, with
    * the number of occurrences — (doc_id, n_hits), n_hits ≥ 1.
    *
    * Execution shape (the standard positional-index phrase plan): each
    * phrase term's postings are FILTERED FIRST (on a [[bm25Bucket]]-
    * partitioned stored layout that is partition pruning — only the
    * query's terms ever leave the scan), the j-th term's positions are
    * shifted back by j, and an m-way equi-join on (doc_id, pos) keeps
    * exactly the alignments where all m terms are adjacent in order.
    * All joins are codegen'd hash joins on term-frequency-sized inputs;
    * the corpus token stream itself never shuffles. A repeated term in
    * the phrase is handled naturally (its postings enter the chain once
    * per slot with different shifts). Matching is case-insensitive
    * (terms are lowercased to the postings' convention). */
  def phraseMatches(postings: DataFrame, phrase: Seq[String]): DataFrame = {
    val terms = phrase.map(_.trim.toLowerCase(java.util.Locale.ROOT))
    require(terms.nonEmpty && terms.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      s"phrase must be non-empty single tokens, got ${phrase.mkString("[", ", ", "]")}")
    val base = postings.filter(col("term") === terms.head)
      .select(col("doc_id"), col("pos"))
    val aligned = terms.zipWithIndex.tail.foldLeft(base) { case (acc, (t, j)) =>
      acc.join(postings.filter(col("term") === t)
          .select(col("doc_id"), (col("pos") - j).as("pos")),
        Seq("doc_id", "pos"))
    }
    aligned.groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** PROXIMITY matches over positional postings — the relaxed member of
    * the phrase family: occurrences of `termA` and `termB` within
    * `window` token positions of each other IN ORDER (a precedes b by
    * 1..window), counted per document. This is the "terms near each
    * other" relevance signal (Lucene's sloppy PhraseQuery shape) that
    * exact adjacency misses and bag-of-words over-matches.
    * Same filter-first + position-join plan as [[phraseMatches]], with
    * the equality join on doc_id and the position offset as a RANGE
    * residual — per-doc cost bounded by tf(a)·tf(b). Returns
    * (doc_id, n_pairs). */
  def proximityMatches(postings: DataFrame, termA: String, termB: String,
                       window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    def one(t: String): String = {
      val n = t.trim.toLowerCase(java.util.Locale.ROOT)
      require(n.nonEmpty && !n.exists(_.isWhitespace),
        s"terms must be non-empty single tokens, got '$t'")
      n
    }
    val a = postings.filter(col("term") === one(termA))
      .select(col("doc_id"), col("pos").as("__pa"))
    val b = postings.filter(col("term") === one(termB))
      .select(col("doc_id"), col("pos").as("__pb"))
    a.join(b, Seq("doc_id"))
      .filter((col("__pb") - col("__pa")).between(lit(1), lit(window)))
      .groupBy("doc_id").agg(count(lit(1)).as("n_pairs"))
  }

  /** READABILITY signals per document — the Flesch Reading Ease inputs
    * (Flesch 1948, public; the readability gate common in web-corpus
    * curation stacks): whitespace word count, terminator-run sentence
    * count (the [[sentences]] convention), and the vowel-group syllable
    * HEURISTIC (runs of [aeiouy] in the lowercased text — the standard
    * no-dictionary approximation; consistent, not linguistically
    * exact). The integer counts are the portable core; `flesch` is the
    * canonical 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    * words) with try-division (NULL for empty docs) rounded to 6
    * decimals — both engines parse identical literals and run the same
    * IEEE ops, so even the score column hash-matches (the pr3_moments
    * discipline). Map-only; one pass. */
  def readabilitySignals(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol).as("doc_id"),
        tokenCount(t).as("n_words"),
        regexp_count(t, lit("[.!?]+")).cast(LongType).as("n_sentences"),
        regexp_count(lower(t), lit("[aeiouy]+")).cast(LongType)
          .as("n_syllables"))
      .withColumn("flesch",
        round(lit(206.835)
          - lit(1.015) * expr(
            "try_divide(CAST(n_words AS DOUBLE), CAST(n_sentences AS DOUBLE))")
          - lit(84.6) * expr(
            "try_divide(CAST(n_syllables AS DOUBLE), CAST(n_words AS DOUBLE))"),
          6))
  }

  /** Corpus-wide CO-OCCURRENCE counts: for every unordered token pair
    * {a, b}, the number of positions where they occur within `window`
    * tokens of each other — the raw statistic under collocation
    * extraction, PMI association mining, and word-vector co-occurrence
    * matrices (the GloVe/word2vec input shape). Returns
    * (term_a, term_b, n_cooc) with term_a < term_b canonically; counts
    * are integers, so the frame is hash-portable end to end.
    *
    * Scale shape: this is NOT a positional self-join (which keys the
    * join on doc_id alone and goes quadratic per document before the
    * range residual prunes). Each token pairs with the next `window`
    * tokens of ITS OWN document's array via `slice` — a MAP-ONLY
    * explode, exactly `window` candidates per token, linear in the
    * corpus token stream for fixed window — followed by ONE count
    * aggregate with map-side partials absorbing hot pairs. Identical
    * tokens co-occurring ({a, a}) are excluded (self-pairs measure
    * repetition, not association — [[repetitionSignal]] covers that).
    * Same token convention as the whole retrieval family
    * (`tokens(lower(text))`, empty tokens dropped). */
  def cooccurrenceCounts(df: DataFrame, textCol: String, idCol: String,
                         window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    df.select(tokens(lower(col(textCol))).as("__toks"))
      .select(posexplode(col("__toks")).as(Seq("__i", "__ta")), col("__toks"))
      // slice is 1-based: positions __i+1 .. __i+window (0-based __i)
      .select(col("__ta"),
        explode(slice(col("__toks"), col("__i") + lit(2), lit(window)))
          .as("__tb"))
      .filter(col("__ta") =!= "" && col("__tb") =!= "" &&
        col("__ta") =!= col("__tb"))
      .select(least(col("__ta"), col("__tb")).as("term_a"),
        greatest(col("__ta"), col("__tb")).as("term_b"))
      .groupBy("term_a", "term_b").agg(count(lit(1)).as("n_cooc"))
  }

  /** Phrase-search top-k: the `k` documents with the most occurrences of
    * the exact phrase, ties by doc_id ascending — (doc_id, n_hits, rank).
    * [[phraseMatches]] + `orderBy.limit(k)` (TakeOrderedAndProject — a
    * bounded per-partition heap, never a global sort; the
    * [[heavyHitters]] discipline); the rank window runs over the k
    * surviving rows only. Counts are integers, so the whole ranking is
    * hash-portable. */
  def phraseSearchTopK(postings: DataFrame, phrase: Seq[String], k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_hits").desc, col("doc_id"))
    phraseMatches(postings, phrase)
      .orderBy(col("n_hits").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(w).cast(IntegerType))
  }

  /** The 64-way term shard key for storing [[bm25Postings]] partitioned:
    * deterministic, uniform, and computable from a query term alone — so
    * a probe prunes partitions without any lookup table.
    *
    * ON-DISK FORMAT INVARIANT: the 64 here is part of every stored BM25
    * layout (probes recompute a query term's bucket with this function
    * and prune to it). Changing the constant, the hash, or the cast
    * orphans every existing layout — appends would land rows in buckets
    * no probe reads. To make the count configurable, pin it in a layout
    * meta the way [[graft.serve.NearDupService]] pins `groups`. */
  def bm25Bucket(term: Column): Column =
    pmod(xxhash64(term), lit(64L)).cast(IntegerType)

  /** Corpus-level BM25 statistics — ONE row (n_docs, dl_sum). Counts
    * every document, including empty ones that appear in no posting
    * (they still lower avgdl, per the standard definition). */
  def bm25CorpusStats(df: DataFrame, textCol: String): DataFrame =
    df.select(tokenCount(col(textCol)).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("dl_sum"))

  /** BM25 top-k retrieval over PRECOMPUTED postings + corpus stats — the
    * probe half of the classic keyword search stack (Robertson & Walker
    * 1994's Okapi weighting in Lucene's non-negative form):
    *
    *   score(d) = Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5)) ·
    *              tf · (k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Scale shape: the postings frame is FILTERED TO THE QUERY TERMS
    * before anything moves (with term-bucket-partitioned storage that is
    * partition pruning at the scan); df comes from a |terms|-row
    * aggregate broadcast back; the per-doc score is a FIXED-ORDER sum of
    * per-term columns (conditional aggregation in query-term order — a
    * plain sum over postings would combine partials in partition order
    * and make near-tie ranks run-dependent); the final top-k is the
    * bounded-heap `topk_desc` (map-side partials cap the shuffle at k
    * rows per partition). Output (doc_id, score, rank), deterministic —
    * but `ln` is transcendental, so this face is rows-only by the repo's
    * portability law; the hash-green twin is the integer sufficient
    * statistics ([[bm25QueryStats]]), and BM25Spec pins hand-computed
    * scores. */
  def bm25TopK(postings: DataFrame, stats: DataFrame, terms: Seq[String],
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(k > 0, s"k must be > 0, got $k")
    require(k1 >= 0, s"k1 must be >= 0, got $k1")
    require(b >= 0 && b <= 1, s"b must be in [0, 1], got $b")
    val qt = terms.map(_.toLowerCase).distinct
    val p = postings.filter(col("term").isin(qt: _*))
    val dfreq = p.groupBy("term").agg(count(lit(1)).as("df"))
    val perPosting = p
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("__avgdl",
        col("dl_sum").cast(DoubleType) / col("n_docs").cast(DoubleType))
      .withColumn("__idf", log(lit(1.0) +
        (col("n_docs").cast(DoubleType) - col("df") + lit(0.5)) /
          (col("df").cast(DoubleType) + lit(0.5))))
      .withColumn("__s", col("__idf") *
        (col("tf").cast(DoubleType) * lit(k1 + 1.0)) /
        (col("tf").cast(DoubleType) +
          lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast(DoubleType) / col("__avgdl"))))
    // fixed-order per-term columns → deterministic IEEE sum left to right
    val termCols = qt.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("__s"))).as(s"__t$i")
    }
    val score = qt.indices
      .map(i => coalesce(col(s"__t$i"), lit(0.0)))
      .reduce(_ + _)
    val perDoc = perPosting.groupBy("doc_id")
      .agg(termCols.head, termCols.tail: _*)
      .select(col("doc_id"), score.as("score"))
    perDoc
      .agg(call_function("topk_desc", col("score"), col("doc_id"), lit(k)).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("e.id").as("doc_id"), col("e.score").as("score"),
        (col("pos") + 1).cast(IntegerType).as("rank"))
  }

  /** Self-contained [[bm25TopK]] — build postings + stats in-query (the
    * registry form; production splits build from probe and stores the
    * postings bucket-partitioned). */
  def bm25Search(df: DataFrame, textCol: String, idCol: String,
                 terms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopK(bm25Postings(df, textCol, idCol), bm25CorpusStats(df, textCol),
      terms, k, k1, b)

  /** The hash-green twin of the BM25 face: every INTEGER sufficient
    * statistic the score is a fixed function of — (term, doc_id, tf, dl,
    * df, n_docs, dl_sum) for the query terms — so the oracle certifies
    * the whole retrieval substrate (tokenization, postings, document
    * frequencies, corpus stats) exactly, and only the final
    * transcendental combination stays spec-pinned. */
  def bm25QueryStats(df: DataFrame, textCol: String, idCol: String,
                     terms: Seq[String]): DataFrame =
    bm25QueryStatsFrom(bm25Postings(df, textCol, idCol),
      bm25CorpusStats(df, textCol), terms)

  /** [[bm25QueryStats]] computed FROM AN INDEX (postings + one-row corpus
    * stats) instead of the raw corpus — the form that certifies a STORED
    * or INCREMENTALLY MERGED index: point it at the index and the same
    * full-corpus oracle hash-proves the index holds exactly the postings
    * a from-scratch rebuild would. */
  def bm25QueryStatsFrom(postings: DataFrame, stats: DataFrame,
                         terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "bm25QueryStatsFrom needs at least one query term")
    val qt = terms.map(_.toLowerCase).distinct
    val p = postings.filter(col("term").isin(qt: _*))
    val dfreq = p.groupBy("term").agg(count(lit(1)).as("df"))
    p.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("df"),
        col("n_docs"), col("dl_sum"))
  }

  /** Document-frequency histogram of an inverted index — the keyword
    * tier's layout-health audit ([[graft.sim.Ivf.cellStats]]'s analog):
    * (df, n_terms) pairs expose the stopword mass (few terms with huge
    * df — the posting lists that dominate probe cost) and the singleton
    * tail (df = 1 terms — index bloat with zero retrieval value), the
    * two signals that drive stopword thresholds and tail pruning.
    * Two integer aggregates over the thin postings frame; hash-green
    * (`txt_bm25_df_hist`). */
  def bm25DfHistogram(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).as("df"))
      .groupBy("df").agg(count(lit(1)).as("n_terms"))

  /** O(removed) DELETION from a BM25 index — the compliance half of
    * incremental maintenance (takedown / right-to-be-forgotten sweeps
    * must not force a corpus rebuild): postings lose the removed ids via
    * an anti-join against the (broadcastable) removal set, and the
    * one-row stats subtract the removed documents' exact (count, Σdl).
    * The caller hands in the removed DOCUMENTS (id + text — takedown
    * lists carry the payload or it is re-fetched by id) so empty
    * documents, which have NO postings rows to recover a dl from, still
    * decrement `n_docs` correctly. Removed ≡ rebuilt-on-remainder is
    * hash-certified by the `txt_bm25_remove` face. PRECONDITION: the
    * removed ids are in the index exactly once (the append-only family
    * contract keeps ids unique). */
  def bm25RemoveIndex(postings: DataFrame, stats: DataFrame,
                      removedDocs: DataFrame, textCol: String,
                      idCol: String): (DataFrame, DataFrame) = {
    val ids = removedDocs.select(col(idCol).as("doc_id"))
    val outPostings = postings.join(broadcast(ids), Seq("doc_id"), "left_anti")
    val removedStats = bm25CorpusStats(removedDocs, textCol)
      .select(col("n_docs").as("__rn"), col("dl_sum").as("__rdl"))
    val outStats = stats.crossJoin(broadcast(removedStats))
      .select((col("n_docs") - col("__rn")).as("n_docs"),
        (col("dl_sum") - coalesce(col("__rdl"), lit(0L))).as("dl_sum"))
    (outPostings, outStats)
  }

  /** O(delta) incremental maintenance of a BM25 index: merge a delta
    * corpus's postings + stats into an existing index WITHOUT touching
    * the base corpus. Postings rows are per-(term, doc_id) and carry only
    * per-doc quantities (tf, dl), so for NEW documents the merged
    * postings are literally `base ∪ delta`; the corpus stats (n_docs,
    * dl_sum) are additive. Per-term df and avgdl are derived at probe
    * time ([[bm25TopK]]/[[bm25QueryStatsFrom]]), which is exactly what
    * makes the index mergeable — nothing stored depends on the rest of
    * the corpus. Merged index ≡ full rebuild, hash-certified by the
    * `txt_bm25_merge` registry face against the full-corpus oracle.
    *
    * PRECONDITION: delta doc_ids are NEW (append-only ingest — the
    * steady-state refresh model). A doc present in both sides would
    * double-count; updates must remove the old doc's postings (anti-join
    * on doc_id) and subtract its (1, dl) from stats first.
    *
    * The STORED-layout twin is [[graft.serve.SearchService.appendDelta]]:
    * delta postings append as new files into only the term buckets the
    * delta touches, base files are never rewritten. */
  def bm25MergeIndex(basePostings: DataFrame, baseStats: DataFrame,
                     deltaPostings: DataFrame,
                     deltaStats: DataFrame): (DataFrame, DataFrame) = {
    val postings = basePostings.unionByName(deltaPostings)
    val stats = baseStats.unionByName(deltaStats)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("dl_sum")).as("dl_sum"))
    (postings, stats)
  }

  /** Document UPDATE for a BM25 index — the remove-then-append
    * composition [[bm25MergeIndex]]'s NEW-ids precondition prescribes,
    * packaged so a corpus refresh that EDITS documents (the reference's
    * whole cadence, dag1.py:19's daily reload) is one call with no
    * manual two-step and no consistency window in the returned frames:
    * `oldDocs` (the currently-indexed versions — the previous corpus
    * snapshot a refresh diff has in hand; required because an empty old
    * doc has no postings row to recover its stats from, the
    * [[bm25RemoveIndex]] contract) leave the index, then `newDocs` merge
    * in. `newDocs` may carry brand-new ids too — upsert = update ∪
    * insert. Upserted ≡ rebuilt-on-edited-corpus is hash-certified by
    * the `txt_bm25_upsert` registry face.
    *
    * PRECONDITIONS: ids(oldDocs) ⊆ index (each exactly once, the
    * append-only family contract) and ids(oldDocs) ⊆ ids(newDocs) ∪
    * removed-on-purpose; an id in newDocs that is ALSO still in the
    * index but absent from oldDocs double-counts (hand the old version
    * in). The STORED-layout twin is
    * [[graft.serve.SearchService.upsertDelta]]. */
  def bm25UpsertIndex(basePostings: DataFrame, baseStats: DataFrame,
                      oldDocs: DataFrame, newDocs: DataFrame,
                      textCol: String, idCol: String)
                     : (DataFrame, DataFrame) = {
    val (p, st) = bm25RemoveIndex(basePostings, baseStats, oldDocs,
      textCol, idCol)
    bm25MergeIndex(p, st, bm25Postings(newDocs, textCol, idCol),
      bm25CorpusStats(newDocs, textCol))
  }

  /** Persist a learned merge table ([[bpeMerges]]/[[bpeMergesBatched]]
    * output) as a stored tokenizer artifact — the train-nightly /
    * tokenize-all-day seam, mirroring the stored-index discipline of the
    * ANN and BM25 families: training pays the O(numMerges) driver loop
    * once, every downstream job segments under the loaded vocabulary
    * with the map-only [[bpeSegment]] expressions. One file: the table
    * is vocabulary-sized (≤ tens of thousands of fixed-width rows — an
    * artifact, not data). */
  def saveBpeMerges(merges: DataFrame, root: String): Unit =
    merges.coalesce(1).write.mode("overwrite").parquet(s"$root/merges")

  /** Load a stored merge table back into the rank-ordered driver-side
    * Seq the segmentation expressions consume. Stored ≡ in-memory is
    * spec-pinned (TextOpsSpec) and the `txt_bpe_segment_stored` registry
    * face shares the in-memory face's oracle. The collect is bounded by
    * the vocabulary size ([[saveBpeMerges]]). */
  def loadBpeMerges(spark: org.apache.spark.sql.SparkSession,
                    root: String): Seq[(String, String)] =
    spark.read.parquet(s"$root/merges")
      .orderBy(col("merge_rank"))
      .select(col("left"), col("right"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** Apply a learned merge table ([[bpeMerges]] order matters) to a word
    * column — the encoding half: returns the array of subword segments.
    * Pure fold of quoted regexp_replace steps; map-only, broadcastable as
    * part of any projection. */
  def bpeSegment(word: Column, merges: Seq[(String, String)]): Column = {
    val init = concat_ws(BpeSep, split(word, ""))
    val merged = merges.foldLeft(init) { case (acc, (l, r)) =>
      regexp_replace(acc, mergePattern(l, r),
        java.util.regex.Matcher.quoteReplacement(l + r))
    }
    split(merged, BpeSep)
  }

  /** Subword vocabulary induced by a learned merge table: segment the
    * word-TYPE table with [[bpeSegment]], aggregate weighted symbol
    * frequencies, assign dense 1-based ids by (frequency desc, symbol asc)
    * — id 0 stays reserved for OOV, matching [[vocabulary]]'s contract.
    * Returns (sym, n, tok_id). The ranking window runs over the symbol
    * set — bounded by (distinct characters + merges), never corpus-sized. */
  def bpeVocabulary(df: DataFrame, textCol: String,
                    merges: Seq[(String, String)]): DataFrame = {
    val words = df.select(explode(tokens(lower(col(textCol)))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("sym"))
    words.select(explode(bpeSegment(col("word"), merges)).as("sym"), col("freq"))
      .groupBy("sym").agg(sum(col("freq")).as("n"))
      .withColumn("tok_id", row_number().over(w))
  }

  /** Full BPE encoding to ids — the subword counterpart of
    * [[tokenizeToIds]]: words segmented by the merge table, segments
    * mapped through [[bpeVocabulary]] (symbols unseen at train time → 0).
    * Emits (doc_id, word_pos, seg_pos, tok_id) — the two positions order
    * segments exactly without any global window. Obtain `merges` from
    * [[bpeMerges]] (`.collect` of its numMerges-bounded output is
    * driver-safe by construction).
    *
    * Scale shape: training statistics came from the word-TYPE table
    * ([[bpeMerges]]); encoding is map-only — segment expression + one
    * broadcast vocab join — so the corpus never shuffles to be encoded. */
  def bpeTokenizeToIds(df: DataFrame, textCol: String, idCol: String,
                       merges: Seq[(String, String)]): DataFrame =
    bpeTokenizeToIds(df, textCol, idCol, merges,
      bpeVocabulary(df, textCol, merges))

  /** [[bpeTokenizeToIds]] against a FIXED vocabulary — the inference-time
    * shape: vocab trained once on the corpus, new documents encoded
    * against it (symbols outside the trained vocab → OOV 0). */
  def bpeTokenizeToIds(df: DataFrame, textCol: String, idCol: String,
                       merges: Seq[(String, String)],
                       vocab: DataFrame): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(tokens(lower(col(textCol)))).as(Seq("word_pos", "word")))
      .filter(col("word") =!= "")
      .select(col("doc_id"), col("word_pos"),
        posexplode(bpeSegment(col("word"), merges)).as(Seq("seg_pos", "sym")))
      .join(broadcast(vocab.select("sym", "tok_id")), Seq("sym"), "left")
      .select(col("doc_id"), col("word_pos"), col("seg_pos"),
        coalesce(col("tok_id"), lit(0)).as("tok_id"))

  /** Per-document salient terms: top-`k` tokens by tf·idf, the classic
    * keyword/topic signal for corpus exploration and domain tagging.
    * Returns (doc_id, term, score, rank).
    *
    * idf uses the RATIONAL BM25 form WITHOUT the log,
    * (N − df + 0.5)/(df + 0.5): strictly monotone in the usual
    * log-idf, so rankings are identical — and, unlike log, every step
    * (integer counts, one subtraction/addition, one correctly-rounded
    * IEEE division) is bit-reproducible across engines, which makes the
    * whole operator hash-checkable against a SQL oracle.
    *
    * Scale shape: tf = one (doc, token) count aggregate; df = a second
    * aggregate over tf's (already distinct-per-doc) rows, joined back on
    * the term (AQE-skew-safe for stopword-grade hot terms, where a
    * `count over (partition by term)` window would buffer a corpus-sized
    * partition); N rides in as a broadcast one-row aggregate (no
    * driver-side collect); the final top-k is a doc-keyed window with
    * WindowGroupLimit pushdown. Lazy-composition trade: tf feeds both
    * join sides, so an uncached plan derives it twice — callers running
    * this ONCE over 100 TB should persist the corpus scan or accept the
    * second pass; the operator stays lazy (persists nothing) by design. */
  def salientTerms(df: DataFrame, textCol: String, idCol: String,
                   k: Int = 3): DataFrame = {
    val n = df.agg(count(lit(1)).cast(DoubleType).as("N"))
    val tf = df.select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      // association mirrors SQL's left-to-right parse: (c * idf_num) / idf_den
      .withColumn("score", round(
        (col("c") * (col("N") - col("df") + 0.5)) / (col("df") + 0.5), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("score"), col("rank"))
  }

  /** Per-CLUSTER salient terms — the corpus TOPIC MAP: given a cluster
    * assignment over the documents (e.g. [[graft.sim.Ivf.assignPortable]]
    * cells over their embeddings), label each cluster with its top-`k`
    * most DISTINCTIVE terms. This is the standard "what is actually in
    * my data" report a 100 TB curation pass runs after clustering —
    * cluster sizes alone say nothing; the labels are what let an
    * operator decide which clusters to up/down-weight or drop.
    *
    * Salience is cluster-level tf·idf with [[salientTerms]]'s RATIONAL
    * idf over CLUSTERS, (K − cf + 0.5)/(cf + 0.5), where cf = number of
    * clusters containing the term and K = number of assigned clusters:
    * a term every cluster shares (stopword grade) scores near zero no
    * matter how frequent, while a term concentrated in one cluster
    * rises with its count. Every step is integer counts plus one
    * correctly-rounded division — hash-checkable cross-engine.
    *
    * Scale shape: the cluster id joins the DOCUMENT rows (row-sized,
    * BEFORE tokenization — never the exploded token stream); tf is one
    * (cluster, term) count with map-side partials, K clusters collapse
    * it to a frame bounded by K·vocab; cf is a second aggregate over
    * tf's rows joined back on the term (skew-safe for corpus-wide hot
    * terms); K rides in as a broadcast one-row aggregate; the final
    * top-k is a cluster-keyed window with WindowGroupLimit pushdown.
    * `clusters` must hold ONE row per document id (an assignment, not
    * an affinity list). Returns (cell, term, score, rank). */
  def clusterSalientTerms(docs: DataFrame, clusters: DataFrame,
                          textCol: String, idCol: String,
                          clusterCol: String = "cell",
                          k: Int = 5): DataFrame = {
    val kcl = clusters.select(col(clusterCol)).distinct()
      .agg(count(lit(1)).cast(DoubleType).as("K"))
    val withCell = docs.select(col(idCol), lower(col(textCol)).as("__t"))
      .join(clusters.select(col(idCol), col(clusterCol)), Seq(idCol))
    val tf = withCell
      .select(col(clusterCol), explode(tokens(col("__t"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(clusterCol, "term").agg(count(lit(1)).as("c"))
    val cf = tf.groupBy("term").agg(count(lit(1)).as("cf"))
    val scored = tf.join(cf, "term").crossJoin(broadcast(kcl))
      // association mirrors SQL's left-to-right parse: (c * num) / den
      .withColumn("score", round(
        (col("c") * (col("K") - col("cf") + 0.5)) / (col("cf") + 0.5), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(clusterCol)).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(clusterCol), col("term"), col("score"), col("rank"))
  }

  /** Per-document hashed-n-gram feature stream (unigrams + adjacent
    * bigrams) — the DSIR feature space. Returns (doc_id, g: string). */
  private def ngramFeatures(df: DataFrame, textCol: String,
                            idCol: String): DataFrame = {
    // guard: sequence(0, -1) would yield [0, -1] (step inference), so the
    // bigram arm only fires with ≥ 2 tokens
    val bigrams = when(size(col("__ts")) >= 2,
      transform(sequence(lit(0), size(col("__ts")) - 2),
        i => concat(element_at(col("__ts"), i + 1), lit(" "),
          element_at(col("__ts"), i + 2))))
      .otherwise(array().cast(ArrayType(StringType)))
    // Spread the narrow (id, text) rows before the tokenize/bigram
    // explosion (the shingleRows discipline): a single-row-group corpus
    // scans as ONE task, and the whole feature extraction — the dominant
    // cost of every DSIR operator — single-threaded on one core of 32
    // (measured 3.5-3.7 s single-task stages per corpus pass on the
    // sf0.1 faces). Every consumer is an order-independent aggregate, so
    // results are unchanged; at production file counts the spread is a
    // no-op.
    // Materialize the token array in its OWN projection before the bigram
    // lambda touches it: inlined, every element_at(ts, i) re-evaluates the
    // whole lower→split→filter chain, making feature extraction
    // O(tokens²) per document (measured 9.7 s for a 0.5M-feature corpus —
    // 20× the rest of the DSIR pipeline). CollapseProject keeps the alias
    // un-inlined because it is referenced many times and is not cheap.
    graft.util.Spread.forMapWork(
        df.select(col(idCol).as("doc_id"), col(textCol).as("__t")))
      .select(col("doc_id"),
        filter(tokens(lower(col("__t"))), t => t =!= "").as("__ts"))
      .select(col("doc_id"), explode(concat(col("__ts"), bigrams)).as("g"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", public): score every raw
    * document by how target-like its hashed-n-gram bag is — the
    * importance log-ratio `sum_b c_b(doc) * [ln p_target(b) - ln p_raw(b)]`
    * over `buckets` hashed unigram+bigram features, both distributions
    * add-one smoothed. Selecting the top-weighted documents (or
    * Gumbel-resampling on the weights) tilts a 100 TB crawl toward a
    * curated target domain without training a classifier.
    *
    * Engine-portability of the number itself: features hash through
    * md5-character arithmetic (same trick as [[hashEmbed]]); the only
    * transcendentals are the ≤ `2·buckets` per-BUCKET `ln` calls, whose
    * round-6 values join the corpus as DECIMAL — the per-document sum is
    * then exact integer-scaled arithmetic, independent of partition order
    * (a double sum would drift with reduction order and break the oracle
    * hash). Returns (doc_id, n_feats, logw: decimal(38,6)) — one row per
    * raw document, 0/0.000000 for featureless docs.
    *
    * Scale shape: one (doc, bucket) count with map-side partials is the
    * only corpus-sized shuffle; the corpus-wide bucket marginal reuses
    * that aggregate's exchange (ReusedExchange, pinned by plan test); the
    * target side aggregates to ≤ `buckets` rows before it meets anything;
    * the log-ratio table (`buckets` rows) broadcasts back. */
  def dsirWeights(raw: DataFrame, target: DataFrame, textCol: String,
                  idCol: String, buckets: Int = 1024): DataFrame = {
    val (docB, rawCnt, tgtCnt, totals, spine) =
      dsirCounts(raw, target, textCol, idCol, buckets)
    val lr = spine
      .join(tgtCnt, Seq("b"), "left").join(rawCnt, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"), round(
        log((coalesce(col("ct"), lit(0L)) + 1).cast(DoubleType) /
          (col("tt") + lit(buckets)).cast(DoubleType)) -
        log((coalesce(col("cr"), lit(0L)) + 1).cast(DoubleType) /
          (col("tr") + lit(buckets)).cast(DoubleType)), 6)
        .cast(DecimalType(20, 6)).as("lr"))
    val scored = docB.join(broadcast(lr), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("c").cast(DecimalType(12, 0)) * col("lr")).as("logw"),
        sum(col("c")).as("n_feats"))
    raw.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("logw").cast(DecimalType(38, 6)),
          lit(0).cast(DecimalType(38, 6))).as("logw"))
  }

  /** Shared DSIR count plumbing: hashed-feature per-doc bucket counts over
    * the raw corpus, the raw and target bucket marginals, their totals,
    * and the dense bucket spine. One (doc, bucket) shuffle is the only
    * corpus-sized movement; everything else is ≤ `buckets` rows. */
  /** The md5-character feature bucket over an exploded `g` column — the
    * engine-portable hash shared by training ([[dsirCounts]]) and
    * stored-weight scoring ([[dsirScoreAgainst]]): any drift between the
    * two would silently mis-bucket served batches. */
  private def dsirBucket(buckets: Int): Column = {
    def hx(i: Int): Column =
      expr(s"instr('0123456789abcdef', substring(md5(g), $i, 1)) - 1")
    pmod(((hx(1) * 16 + hx(2)) * 16 + hx(3)) * 16 + hx(4),
      lit(buckets)).cast(IntegerType)
  }

  private def dsirCounts(raw: DataFrame, target: DataFrame, textCol: String,
                         idCol: String, buckets: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(buckets > 1 && buckets <= 65536,
      s"buckets must be in [2, 65536], got $buckets")
    val bucket = dsirBucket(buckets)
    val docB = ngramFeatures(raw, textCol, idCol)
      .select(col("doc_id"), bucket.as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    val rawCnt = docB.groupBy("b").agg(sum(col("c")).as("cr"))
    val tgtCnt = ngramFeatures(target, textCol, idCol)
      .select(bucket.as("b"))
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val totals = rawCnt.agg(coalesce(sum(col("cr")), lit(0L)).as("tr"))
      .crossJoin(tgtCnt.agg(coalesce(sum(col("ct")), lit(0L)).as("tt")))
    val spine = raw.sparkSession.range(buckets)
      .select(col("id").cast(IntegerType).as("b"))
    (docB, rawCnt, tgtCnt, totals, spine)
  }

  /** DSIR integer sufficient statistics — the exactly-replayable face of
    * [[dsirWeights]]. The ln-weight contract proved platform-dependent
    * (two libm `ln`s can disagree by half an ulp at a round-6 boundary,
    * flipping a bucket's DECIMAL log-ratio cross-engine), so the
    * hash-checked artifact is the INTEGER layer beneath the logs: per
    * document,
    *   - `n_feats` — total hashed-feature count `Σ_b c_b`,
    *   - `s_tgt`   — cross-moment with the target marginal `Σ_b c_b·ct_b`,
    *   - `s_raw`   — cross-moment with the raw marginal  `Σ_b c_b·cr_b`,
    *   - `margin`  — the LINEARIZED importance score: the common-
    *                 denominator numerator of `Σ_b c_b·(p̂_t(b) − p̂_r(b))`
    *                 over the add-one smoothed marginals, which collapses
    *                 algebraically to
    *                 `(tr+B)·(s_tgt+n_feats) − (tt+B)·(s_raw+n_feats)` —
    *                 pure integer arithmetic, no division, no
    *                 transcendental, and the same doc ordering as the
    *                 first-order (ln x ≈ x−1) expansion of the ln weight.
    * These pin the whole DSIR pipeline (tokenize → hash → bucket counts →
    * both marginals → smoothing) bit-for-bit in any engine; the ln-weight
    * itself stays a spec-tested engine analytic on the same counts.
    * Products ride DECIMAL(19,0)×DECIMAL arithmetic into DECIMAL(38,0),
    * so trillion-token marginals cannot overflow a 64-bit integer (the
    * margin stays exact while |margin| < 10³⁸ — comfortably true up to
    * ~10¹² token corpora at the default 1024 buckets).
    *
    * Scale shape: identical to [[dsirWeights]] — one (doc, bucket)
    * shuffle; the ≤ `buckets`-row annotated spine and the one-row totals
    * broadcast back. */
  def dsirStats(raw: DataFrame, target: DataFrame, textCol: String,
                idCol: String, buckets: Int = 1024): DataFrame = Residency.eager { s =>
    val (docB0, _, tgtCnt, _, spine) =
      dsirCounts(raw, target, textCol, idCol, buckets)
    // The (doc, bucket) aggregate feeds THREE consumers (the per-doc
    // score join, the raw marginal, and the totals row), and exchange
    // reuse does not dedupe them across the AQE stage boundaries —
    // measured three full feature passes per face (3 × ~0.8 s wall at
    // sf0.1, 32 cores). Persist the narrow (doc_id, b, c) rows once and
    // release them after the output materializes (the minHashNearDups
    // bounded-residency discipline); the operator becomes eager, which
    // every registry face already treats it as.
    val docB = s.persist(docB0)
    val rawCnt = docB.groupBy("b").agg(sum(col("c")).as("cr"))
    val totals = rawCnt.agg(coalesce(sum(col("cr")), lit(0L)).as("tr"))
      .crossJoin(tgtCnt.agg(coalesce(sum(col("ct")), lit(0L)).as("tt")))
    val d19 = DecimalType(19, 0)
    val d38 = DecimalType(38, 0)
    // The totals ride INSIDE the ≤ buckets-row broadcast subtree (the
    // same shape as dsirWeights' log-ratio table, so the (doc, bucket)
    // aggregate exchange is reused for the corpus marginal): per bucket,
    // diff_b = (ct_b+1)(tr+B) − (cr_b+1)(tt+B), and the per-doc margin
    // Σ c_b·diff_b equals (tr+B)(s_tgt+n) − (tt+B)(s_raw+n) exactly — a
    // top-level totals cross-join would split the lineage into extra
    // corpus passes instead.
    val annotated = spine
      .join(tgtCnt, Seq("b"), "left").join(rawCnt, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        coalesce(col("ct"), lit(0L)).as("ct0"),
        coalesce(col("cr"), lit(0L)).as("cr0"),
        ((coalesce(col("ct"), lit(0L)) + 1).cast(d19) *
            (col("tr") + lit(buckets)).cast(d19) -
          (coalesce(col("cr"), lit(0L)) + 1).cast(d19) *
            (col("tt") + lit(buckets)).cast(d19)).as("diff"))
    val scored = docB.join(broadcast(annotated), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c").cast(d19) * col("ct0").cast(d19)).as("s_tgt"),
        sum(col("c").cast(d19) * col("cr0").cast(d19)).as("s_raw"),
        sum(col("c").cast(d19) * col("diff")).as("margin"))
    raw.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("s_tgt").cast(d38), lit(0).cast(d38)).as("s_tgt"),
        coalesce(col("s_raw").cast(d38), lit(0).cast(d38)).as("s_raw"),
        coalesce(col("margin").cast(d38), lit(0).cast(d38)).as("margin"))
  }

  /** The TRAINED DSIR artifact as a standalone per-bucket frame — the
    * layer every [[dsirStats]]/[[dsirWeights]] invocation rebuilds from
    * scratch (2.8–4.8 s warm per face at sf0.1, all of it corpus
    * rescans): for each of the `buckets` hashed-feature buckets, the
    * target/raw marginal counts (`ct0`, `cr0`), the integer-exact
    * linearized difference `diff = (ct0+1)(tr+B) − (cr0+1)(tt+B)` (the
    * [[dsirStats]] margin identity `margin = Σ_b c_b·diff_b`), and the
    * round-6 ln log-ratio `lr` ([[dsirWeights]]' engine analytic).
    * Training scans corpus + target ONCE; scoring any later batch
    * against the stored frame is O(batch) ([[dsirScoreAgainst]]) — the
    * same build-once / probe-cheap split as BM25 stats and the ANN
    * codebooks, which is exactly what a trained artifact is. */
  def dsirBucketWeights(raw: DataFrame, target: DataFrame, textCol: String,
                        idCol: String, buckets: Int = 1024): DataFrame = {
    val (_, rawCnt, tgtCnt, _, _) =
      dsirCounts(raw, target, textCol, idCol, buckets)
    dsirWeightsFromMarginals(raw.sparkSession, rawCnt, tgtCnt, buckets)
  }

  /** Derive the per-bucket weight frame from STORED marginals — the
    * O(buckets) half of the DSIR lifecycle that makes streamed ingest
    * viable: bucket counts are ADDITIVE, so a streamed raw corpus keeps
    * appending (b, cr) delta rows ([[dsirBatchMarginal]] per
    * micro-batch) and the weight table re-derives from the SUMMED
    * marginals with no corpus rescan — bucket arithmetic on ≤ `buckets`
    * rows. `rawMarginal` is (b, cr) with possibly many delta rows per
    * bucket; `targetMarginal` is (b, ct) likewise. Produces the exact
    * [[dsirBucketWeights]] frame (that method now delegates here), so
    * stream-folded weights are bit-identical to a full retrain on the
    * same corpus — the StreamOpsSpec pin. */
  def dsirWeightsFromMarginals(spark: org.apache.spark.sql.SparkSession,
                               rawMarginal: DataFrame,
                               targetMarginal: DataFrame,
                               buckets: Int): DataFrame = {
    require(buckets > 1 && buckets <= 65536,
      s"buckets must be in [2, 65536], got $buckets")
    val rawCnt = rawMarginal.groupBy("b").agg(sum(col("cr")).as("cr"))
    val tgtCnt = targetMarginal.groupBy("b").agg(sum(col("ct")).as("ct"))
    val totals = rawCnt.agg(coalesce(sum(col("cr")), lit(0L)).as("tr"))
      .crossJoin(tgtCnt.agg(coalesce(sum(col("ct")), lit(0L)).as("tt")))
    val spine = spark.range(buckets)
      .select(col("id").cast(IntegerType).as("b"))
    val d19 = DecimalType(19, 0)
    spine.join(tgtCnt, Seq("b"), "left").join(rawCnt, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        coalesce(col("ct"), lit(0L)).as("ct0"),
        coalesce(col("cr"), lit(0L)).as("cr0"),
        ((coalesce(col("ct"), lit(0L)) + 1).cast(d19) *
            (col("tr") + lit(buckets)).cast(d19) -
          (coalesce(col("cr"), lit(0L)) + 1).cast(d19) *
            (col("tt") + lit(buckets)).cast(d19)).as("diff"),
        round(
          log((coalesce(col("ct"), lit(0L)) + 1).cast(DoubleType) /
            (col("tt") + lit(buckets)).cast(DoubleType)) -
          log((coalesce(col("cr"), lit(0L)) + 1).cast(DoubleType) /
            (col("tr") + lit(buckets)).cast(DoubleType)), 6)
          .cast(DecimalType(20, 6)).as("lr"))
  }

  /** One corpus slice's (b, cr) raw-marginal contribution — the
    * streamed-ingest delta unit ([[dsirWeightsFromMarginals]] sums
    * them). Batch-sized work: features of the SLICE only. */
  def dsirBatchMarginal(batch: DataFrame, textCol: String, idCol: String,
                        buckets: Int = 1024): DataFrame = {
    require(buckets > 1 && buckets <= 65536,
      s"buckets must be in [2, 65536], got $buckets")
    ngramFeatures(batch, textCol, idCol)
      .select(dsirBucket(buckets).as("b"))
      .groupBy("b").agg(count(lit(1)).as("cr"))
  }

  /** Score a document batch against a TRAINED per-bucket weight frame
    * (the [[dsirBucketWeights]] layout) — the serving-time half of DSIR:
    * hashed features of the BATCH only, one (doc, bucket) aggregate,
    * then a broadcast join with the ≤ `buckets`-row weight table.
    * Returns the [[dsirStats]] shape `(doc_id, n_feats, s_tgt, s_raw,
    * margin)` with IDENTICAL integer arithmetic, so scoring the training
    * corpus replays [[dsirStats]] bit-for-bit (the hash-green probe
    * contract) and scoring new documents is the production path — a
    * batch-sized map + broadcast join, never a corpus rescan. */
  def dsirScoreAgainst(docs: DataFrame, textCol: String, idCol: String,
                       weights: DataFrame, buckets: Int = 1024): DataFrame = {
    require(buckets > 1 && buckets <= 65536,
      s"buckets must be in [2, 65536], got $buckets")
    val d19 = DecimalType(19, 0)
    val d38 = DecimalType(38, 0)
    val docB = ngramFeatures(docs, textCol, idCol)
      .select(col("doc_id"), dsirBucket(buckets).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    val scored = docB
      .join(broadcast(weights.select("b", "ct0", "cr0", "diff")), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c").cast(d19) * col("ct0").cast(d19)).as("s_tgt"),
        sum(col("c").cast(d19) * col("cr0").cast(d19)).as("s_raw"),
        sum(col("c").cast(d19) * col("diff")).as("margin"))
    docs.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("s_tgt").cast(d38), lit(0).cast(d38)).as("s_tgt"),
        coalesce(col("s_raw").cast(d38), lit(0).cast(d38)).as("s_raw"),
        coalesce(col("margin").cast(d38), lit(0).cast(d38)).as("margin"))
  }

  /** The ln-weight serving twin of [[dsirScoreAgainst]]: per-doc
    * `logw = Σ_b c_b·lr_b` over the STORED round-6 log-ratios — the
    * [[dsirWeights]] output shape `(doc_id, n_feats, logw)` without the
    * corpus rescan. Engine analytic like its training twin (the stored
    * `lr` came from libm `ln`), so it belongs in specs and serving, not
    * hashed cross-engine contracts — the exact-margin
    * [[dsirScoreAgainst]] is the hash-green face of the pair. */
  def dsirScoreWeightsAgainst(docs: DataFrame, textCol: String,
                              idCol: String, weights: DataFrame,
                              buckets: Int = 1024): DataFrame = {
    require(buckets > 1 && buckets <= 65536,
      s"buckets must be in [2, 65536], got $buckets")
    val docB = ngramFeatures(docs, textCol, idCol)
      .select(col("doc_id"), dsirBucket(buckets).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    val scored = docB
      .join(broadcast(weights.select("b", "lr")), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("c").cast(DecimalType(12, 0)) * col("lr")).as("logw"),
        sum(col("c")).as("n_feats"))
    docs.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("logw").cast(DecimalType(38, 6)),
          lit(0).cast(DecimalType(38, 6))).as("logw"))
  }

  /** DSIR selection — the step the importance weight exists FOR (Xie et
    * al. 2023 §3: resample the raw corpus toward the target). Documents
    * are ranked by the exact integer [[dsirStats]] `margin` (the
    * linearized smoothed-ratio score — deterministic and replayable in
    * any engine, unlike the ln-weight) and kept greedily, best-first with
    * doc_id tie-break, until the cumulative feature count reaches
    * `floor(budgetFrac · Σ n_feats)` — the same budgeted-selection
    * contract as [[graft.ops.Ops.budgetSelect]], but GLOBAL rather than
    * per-stratum. Returns every document with its
    * `(margin, cum_feats, kept)` audit columns.
    *
    * Scale shape — no global single-partition sort: the corpus-wide
    * running feature count comes from the distributed prefix scan
    * ([[graft.ops.Scan.prefixSums]] over `(margin DESC, doc_id)` — a
    * total order, so the scan is deterministic), range-partitioned
    * across the cluster; the budget is a broadcast one-row aggregate.
    * The scan's narrow (doc_id, n_feats, margin, cum) frame is the
    * operator's persisted result — callers that loop should unpersist
    * when done. */
  def dsirSelect(raw: DataFrame, target: DataFrame, textCol: String,
                 idCol: String, buckets: Int = 1024,
                 budgetFrac: Double = 0.5): DataFrame = Residency.eager { s =>
    require(budgetFrac > 0 && budgetFrac <= 1.0,
      s"budgetFrac must be in (0, 1], got $budgetFrac")
    // dsirStats returns a PERSISTED frame (it materializes through its
    // internal doc-bucket cache) — adopt the original handle and release
    // it as soon as the scan output below is materialized; unpersisting
    // a projection wrapper would silently leak the underlying cache
    // entry.
    val statsFull = s.adopt(dsirStats(raw, target, textCol, idCol, buckets))
    val stats = statsFull
      .select(col("doc_id"), col("n_feats"), col("margin"))
    val cum = s.adopt(graft.ops.Scan.prefixSums(stats,
      Seq(col("margin").desc, col("doc_id").asc), Seq("n_feats")))
    s.release(statsFull)
    // the scan's LAST running value IS the corpus total (max works because
    // n_feats ≥ 0 makes the running sum monotone) — read it from the
    // persisted scan output instead of re-running the whole stats
    // pipeline for a separate sum (which doubled the operator's cost)
    val total = cum.agg(coalesce(max(col("n_feats_cum")), lit(0L)).as("tf"))
    val budget =
      floor(lit(budgetFrac) * col("tf").cast(DoubleType)).cast(LongType)
    cum.crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_feats"), col("margin"),
        col("n_feats_cum").as("cum_feats"),
        (col("n_feats_cum") <= budget).as("kept"))
  }

  /** DSIR Gumbel-top-k resampling — the STOCHASTIC selection step of Xie
    * et al. 2023 §3 (importance RESAMPLING, not thresholding): sample `k`
    * documents without replacement with probability ∝
    * `exp(logw / temperature)` via the Gumbel-max trick — per-doc key
    * `logw/τ − ln(−ln U)` with `U` a SEEDED md5-derived uniform, so the
    * "random" draw is reproducible across runs and re-seedable per epoch
    * (no RNG state, the [[graft.ops.Ops.shuffleShards]] idiom). Returns
    * the selected documents as `(doc_id, gumbel_key, rank)`, rank 1 =
    * highest key. [[dsirSelect]] is the deterministic hash-checked
    * budget form; this is the paper-faithful sampler (temperature → 0
    * degenerates toward top-k by weight, large τ toward uniform).
    *
    * Engine analytic by design: the Gumbel key is transcendental, so it
    * has no place in a hashed cross-engine contract — determinism and
    * target-enrichment are spec-pinned instead (in-JVM replay of the md5
    * uniform and the key arithmetic).
    *
    * Scale shape: [[dsirWeights]]' one (doc, bucket) shuffle, a map-only
    * key projection, then ONE bounded-heap `topk_desc` aggregate — each
    * partition ships ≤ k rows, no global sort, no window. */
  def dsirResample(raw: DataFrame, target: DataFrame, textCol: String,
                   idCol: String, k: Int, temperature: Double = 1.0,
                   seed: Long = 42L, buckets: Int = 1024): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(temperature > 0, s"temperature must be positive, got $temperature")
    val w = dsirWeights(raw, target, textCol, idCol, buckets)
    // 52-bit md5-prefix uniform in (0, 1): +0.5 keeps U strictly inside
    // the open interval, so −ln(−ln U) is always finite
    val u = (conv(substring(md5(concat_ws(":", lit(seed.toString),
        col("doc_id").cast(StringType))), 1, 13), 16, 10)
      .cast(LongType).cast(DoubleType) + 0.5) / 4503599627370496.0
    val key = col("logw").cast(DoubleType) / lit(temperature) - log(-log(u))
    w.select(col("doc_id"), key.as("gumbel_key"))
      .agg(call_function("topk_desc",
        col("gumbel_key"), col("doc_id"), lit(k)).as("__tk"))
      .select(posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col("__e.id").as("doc_id"),
        col("__e.score").as("gumbel_key"),
        (col("__pos") + 1).cast(IntegerType).as("rank"))
  }

  /** CCNet-style quality bucketing (Wenzek et al. 2020, public): split a
    * scored corpus into head / middle / tail at the score terciles —
    * the standard "train on head+middle, drop tail" perplexity-filter
    * layout, generic over any score column ([[ngramLmScore]]'s
    * `lm_logp`, a classifier margin, [[qualityScore]]). Higher score =
    * better; rows with a NULL score land in `tail` (no evidence, worst
    * bucket), matching how unscoreable (empty) docs are treated.
    *
    * Exact INTERPOLATED terciles (`percentile`, the quantile_cont
    * analog) rather than ntile: thresholds are then pure functions of
    * the value distribution — stable under re-partitioning, replayable
    * by the SQL oracle, and meaningful to log/compare across corpus
    * versions (an ntile boundary is only a row index).
    *
    * Scale shape: one tiny two-value aggregate over the score column,
    * broadcast back; assignment is map-only — the corpus itself never
    * shuffles. The exact percentile holds sorted values per partition
    * (fine up to ~1e8 rows/partition of doubles); swap in
    * `approx_percentile` upstream if the score frame ever outgrows
    * that. */
  def scoreBuckets(scored: DataFrame, scoreCol: String, idCol: String,
                   labels: Seq[String] = Seq("head", "middle", "tail")): DataFrame = {
    require(labels.size == 3 && labels.distinct.size == 3,
      s"need 3 distinct bucket labels, got $labels")
    // Typed API, not expr() interpolation: no injection-shaped string
    // building, and column names needing backticks just work. The
    // percentage is a Scala DOUBLE literal (2.0/3 evaluates to the same
    // IEEE double as the oracle's double division) — an SQL dotted
    // literal would have been DECIMAL-quantized to 0.666667, a DIFFERENT
    // threshold that flips boundary values cross-engine.
    val th = scored.agg(
      percentile(col(scoreCol), lit(2.0 / 3)).as("__t_hi"),
      percentile(col(scoreCol), lit(1.0 / 3)).as("__t_lo"))
    scored.crossJoin(broadcast(th))
      .select(col(idCol), col(scoreCol),
        when(col(scoreCol).isNull, labels(2))
          .when(col(scoreCol) >= col("__t_hi"), labels(0))
          .when(col(scoreCol) >= col("__t_lo"), labels(1))
          .otherwise(labels(2)).as("bucket"))
  }
}
