package graft.operators

import graft.functions.GraftFunctions._
import graft.functions.HashFunctions.shingleHashes
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: all pure narrow map
  * work over a text column, no shuffle except final aggregations.
  */
object TextAnalysis {

  /** Cross-document paragraph dedup — the C4/RefinedWeb boilerplate
    * removal step: newline-separated paragraphs appearing in MORE than
    * `maxDocs` distinct documents ("subscribe to our newsletter", cookie
    * banners, navigation) are removed from every document; everything
    * else, including blank separator lines, is kept and the document
    * reassembles in exact original order. Returns (id, textCol cleaned,
    * n_removed).
    *
    * Scale shape: the global paragraph census aggregates on the 60-bit
    * paragraph hash (never shuffling paragraph text as a key); only the
    * HOT set — paragraphs over the threshold, a tiny boilerplate
    * dictionary by construction — flows into the membership join, so AQE
    * broadcasts it and the corpus is never shuffled for the join.
    * Reassembly is one per-document aggregation (collect kept paragraphs,
    * sort by position). A 60-bit hash collision can only over-remove a
    * rare paragraph that collides with boilerplate — conservative in the
    * direction boilerplate removal already points.
    */
  def dedupParagraphs(
      df: DataFrame, idCol: String, textCol: String, maxDocs: Int): DataFrame = {
    require(maxDocs >= 1, "maxDocs must be >= 1")
    val paras = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__para")))
      .withColumn("__h", graftHash(col("__para")))
    val hot = paras.filter(trim(col("__para")) =!= "")
      .groupBy("__h").agg(countDistinct(col(idCol)).as("__pc"))
      .filter(col("__pc") > maxDocs)
      .select(col("__h"), lit(true).as("__hot"))
    val marked = paras.join(hot, Seq("__h"), "left_outer")
      .withColumn("__keep", col("__hot").isNull || trim(col("__para")) === "")
    marked.groupBy(idCol).agg(
      array_join(
        transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__pos"), col("__para"))))),
          x => x.getField("__para")),
        "\n").as(textCol),
      sum(when(col("__keep"), 0L).otherwise(1L)).as("n_removed"))
  }

  /** Duplicated n-gram window fraction — the exact-substring dedup signal
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"; the duplicate-n-gram filters in Dolma/FineWeb): for each
    * document, the fraction of its n-token windows that also appear in
    * MORE than `maxDocs` other documents. Documents shorter than n tokens
    * report 0 windows, fraction 0.
    *
    * Scale shape: windows shuffle as 60-bit hashes (never as text); the
    * census is one hash-aggregate with distinct-doc counts; the
    * membership join keys on the hash. Work is O(total tokens), the same
    * asymptotics as tokenization itself.
    */
  def duplicatedNgramFraction(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, maxDocs: Int = 1): DataFrame = {
    require(n >= 1 && maxDocs >= 1, "n and maxDocs must be >= 1")
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__t"))
    val winsArr = when(size(col("__t")) >= n,
      transform(sequence(lit(1), size(col("__t")) - (n - 1)),
        i => graftHash(array_join(slice(col("__t"), i, lit(n)), " "))))
      .otherwise(array().cast("array<bigint>"))
    val w = toks.select(col(idCol), explode(winsArr).as("__w"))
    val hot = w.groupBy("__w").agg(countDistinct(col(idCol)).as("__dc"))
      .filter(col("__dc") > maxDocs).select(col("__w"), lit(true).as("__hot"))
    val agg = w.join(hot, Seq("__w"), "left_outer")
      .groupBy(idCol).agg(count(lit(1)).as("__nw"),
        sum(when(col("__hot"), 1L).otherwise(0L)).as("__nd"))
    toks.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("__nw"), lit(0L)).as("n_windows"),
        coalesce(col("__nd"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac", r6(when(col("n_windows") > 0,
        col("n_dup").cast("double") / col("n_windows")).otherwise(lit(0.0))))
  }

  /** Exact-substring span REMOVAL — the acting half of the Lee-et-al
    * dedup whose signal [[duplicatedNgramFraction]] computes: every token
    * covered by an n-token window that occurs in more than `maxDocs`
    * distinct documents is cut from EVERY document (the symmetric policy:
    * boilerplate is noise wherever it appears), and the survivors are
    * reassembled in order, single-space joined (token-level ops reassemble
    * canonically; byte-exact reassembly is the paragraph op's contract).
    *
    * Returns (id, clean_text, n_tokens, n_removed). A document made
    * entirely of boilerplate comes back as the empty string, not a
    * dropped row — downstream filters decide its fate.
    *
    * Scale shape: windows and coverage travel as (60-bit hash, int
    * position) — text never shuffles as a key; the census is the same
    * hash-aggregate as the signal op; coverage explodes only HOT windows
    * (bounded by n × duplicated windows, and per (doc, index) dedup caps
    * it at total tokens); the keep-join and reassembly shuffle O(total
    * tokens). Same asymptotics as tokenization.
    */
  def removeDuplicatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, maxDocs: Int = 1): DataFrame = {
    require(n >= 1 && maxDocs >= 1, "n and maxDocs must be >= 1")
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__t"))
    // (start position, window hash) pairs, 1-based — identical hash
    // construction to duplicatedNgramFraction so oracles replay it
    val winsArr = when(size(col("__t")) >= n,
      transform(sequence(lit(1), size(col("__t")) - (n - 1)),
        i => struct(i.as("__p"),
          graftHash(array_join(slice(col("__t"), i, lit(n)), " ")).as("__h"))))
      .otherwise(array().cast("array<struct<__p:int,__h:bigint>>"))
    val w = toks.select(col(idCol), explode(winsArr).as("__w"))
      .select(col(idCol), col("__w.__p").as("__p"), col("__w.__h").as("__h"))
    val hot = w.groupBy("__h").agg(countDistinct(col(idCol)).as("__dc"))
      .filter(col("__dc") > maxDocs).select(col("__h"), lit(true).as("__hot"))
    // covered token indices: union of [p, p+n) over this doc's hot windows
    val covered = w.join(hot, Seq("__h"))
      .select(col(idCol), explode(sequence(col("__p"), col("__p") + (n - 1))).as("__i"))
      .distinct()
    val tokIdx = toks
      .select(col(idCol), posexplode(col("__t")).as(Seq("__pos0", "__tok")))
      .select(col(idCol), (col("__pos0") + 1).as("__i"), col("__tok"))
    val kept = tokIdx.join(covered, Seq(idCol, "__i"), "left_anti")
    val agg = kept.groupBy(idCol).agg(
      array_join(
        transform(array_sort(collect_list(struct(col("__i"), col("__tok")))),
          x => x.getField("__tok")),
        " ").as("clean_text"),
      count(lit(1)).as("__nk"))
    toks.select(col(idCol), size(col("__t")).cast("long").as("n_tokens"))
      .join(agg, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("__nk"), lit(0L))).as("n_removed"))
  }

  /** Token-window document chunking — the pretraining / RAG ingestion prep
    * step: split each document into windows of `maxTokens` whitespace tokens
    * with `overlap` tokens carried between consecutive chunks (so no
    * boundary-spanning context is lost). Output: (id, chunk_idx, chunk_text,
    * n_tokens), one row per chunk, chunk text reassembled from the original
    * tokens in order.
    *
    * Pure narrow codegen work (split / sequence / transform / slice /
    * array_join — no UDF, no shuffle, no state): chunk fan-out is bounded by
    * ~n_tokens/(maxTokens-overlap) per document, so the operator scales
    * linearly with corpus bytes and parallelizes per input split at 100 TB.
    */
  def chunkDocuments(
      df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens, s"need 0 <= overlap < maxTokens")
    val step = maxTokens - overlap
    val toks = split(col(textCol), "\\s+")
    val n = size(toks)
    val nChunks = greatest(lit(1),
      ceil((n - lit(overlap)).cast("double") / step).cast("int"))
    df.select(col(idCol),
        explode(transform(sequence(lit(0), nChunks - 1), i => struct(
          i.cast("long").as("chunk_idx"),
          array_join(slice(toks, i * step + 1, lit(maxTokens)), " ").as("chunk_text"),
          least(lit(maxTokens), n - i * step).cast("long").as("n_tokens")))).as("c"))
      .select(col(idCol), col("c.chunk_idx"), col("c.chunk_text"), col("c.n_tokens"))
  }

  /** PII redaction pass — the standard corpus-curation scrub before
    * training: emails, phone numbers and IPv4 literals replaced by typed
    * placeholder tokens, with per-category match counts (on the ORIGINAL
    * text) for audit metrics. Patterns are deliberately restricted to
    * syntax with identical semantics in Java regex and RE2-class engines
    * (no lookaround, no backreferences) so the oracle can replay them
    * verbatim. Pure narrow codegen work (regexp_replace / regexp_count):
    * no UDF, no shuffle — linear in corpus bytes at 100 TB.
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val email = PiiEmail
    val phone = PiiPhone
    val ip = PiiIp
    df.select(col(idCol),
      regexp_replace(
        regexp_replace(
          regexp_replace(t, email, "[EMAIL]"),
          phone, "[PHONE]"),
        ip, "[IP]").as("clean_text"),
      regexp_count(t, lit(email)).cast("long").as("n_emails"),
      regexp_count(t, lit(phone)).cast("long").as("n_phones"),
      regexp_count(t, lit(ip)).cast("long").as("n_ips"))
  }

  /** The redaction patterns, shared with specs/oracles. */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhone = "(\\+?\\d{1,3}[- ])?\\(?\\d{3}\\)?[- ]?\\d{3}[- ]?\\d{4}"
  val PiiIp = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Corpus token frequencies grouped by a dimension column. */
  def tokenCounts(df: DataFrame, groupCol: String, textCol: String): DataFrame =
    df.select(col(groupCol), explode(tokens(col(textCol))).as("word"))
      .groupBy(groupCol, "word")
      .agg(count(lit(1)).as("n"))

  /** Rule-based language ID: CJK script detection + stopword profile scores
    * with a deterministic preference order. Honest limitation: a Latin-script
    * text with no distinctive stopwords classifies as English.
    */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = tokens(col(textCol))
    def score(words: String*): Column = size(filter(tk, x => x.isin(words: _*)))
    val sEn = score("the", "and", "of", "to", "in", "is")
    val sEs = score("el", "la", "los", "que", "y", "en")
    val sDe = score("der", "die", "und", "das", "ist")
    val sFr = score("le", "les", "des", "et", "une", "dans")
    df.select(
      col(idCol),
      when(col(textCol).rlike("[一-鿿]"), "zh")
        .when(sEn >= sEs && sEn >= sDe && sEn >= sFr, "en")
        .when(sEs >= sDe && sEs >= sFr, "es")
        .when(sDe >= sFr, "de")
        .otherwise("fr").as("pred_lang"))
  }

  /** Quality metrics: token count, mean token length, stopword ratio,
    * punctuation ratio.
    */
  /** The Gopher document-quality rules (Rae et al. 2021, A1.1 — the
    * filter set Dolma/FineWeb derive from), evaluated per document as
    * INTEGER-EXACT comparisons (cross-multiplied thresholds, never a
    * double boundary), so the decisions reproduce bit-identically across
    * engines. Pure narrow column work — one codegen'd projection, no
    * shuffle:
    *
    *  - `r_wordcount`: 50 ≤ tokens ≤ 100000
    *  - `r_meanlen`:   3 ≤ mean token length ≤ 10  (3n ≤ Σlen ≤ 10n)
    *  - `r_alpha`:     ≥80% of tokens contain a letter (10·alpha ≥ 8·n)
    *  - `r_stop`:      ≥2 distinct Gopher stop words present
    *  - `r_symbol`:    (‘#’ + ‘...’) to token ratio < 0.1 (10·sym < n)
    *  - `r_bullet`:    ≤10% of lines start with a bullet (10·b ≤ lines)
    *  - `r_ellipsis`:  ≤30% of lines end with ‘...’ (10·e ≤ 3·lines)
    *
    * `pass` = every rule holds. Documents with no tokens fail r_wordcount
    * and short-circuit the ratio rules to false via n > 0 guards.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val toks = tokens(col(textCol))
    val n = size(toks).cast("long")
    val sumlen = aggregate(toks, lit(0L), (a, t) => a + length(t).cast("long"))
    val alphaN = size(filter(toks, t => t.rlike("[a-z]"))).cast("long")
    val stopN = size(array_intersect(array_distinct(toks),
      array(stops.map(lit): _*))).cast("long")
    // Column-form replace (not expr-interpolated SQL): column names needing
    // backtick quoting must work like everywhere else in this API
    val hashes = (length(col(textCol)) -
      length(replace(col(textCol), lit("#"), lit("")))).cast("long")
    val ell = ((length(col(textCol)) -
      length(replace(col(textCol), lit("..."), lit("")))) / 3).cast("long")
    val lines = split(col(textCol), "\n")
    val nlines = size(lines).cast("long")
    val bulletL = size(filter(lines, l => l.rlike("^\\s*[-*]"))).cast("long")
    val ellL = size(filter(lines, l => l.rlike("\\.\\.\\.$"))).cast("long")
    val flags = Seq(
      "r_wordcount" -> (n >= 50L && n <= 100000L),
      "r_meanlen" -> (n > 0L && lit(3L) * n <= sumlen && sumlen <= lit(10L) * n),
      "r_alpha" -> (n > 0L && lit(10L) * alphaN >= lit(8L) * n),
      "r_stop" -> (stopN >= 2L),
      "r_symbol" -> (n > 0L && lit(10L) * (hashes + ell) < n),
      "r_bullet" -> (lit(10L) * bulletL <= nlines),
      "r_ellipsis" -> (lit(10L) * ellL <= lit(3L) * nlines))
    df.select(
      (col(idCol) +: flags.map { case (nm, c) => c.as(nm) }) :+
        flags.map(_._2).reduce(_ && _).as("pass"): _*)
  }

  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = tokens(col(textCol))
    val nTok = size(tk)
    val sumLen = aggregate(transform(tk, x => length(x)), lit(0), (a, x) => a + x)
    val nStop = size(filter(tk, x => x.isin("the", "a", "of", "and", "to", "in", "is", "on")))
    val punct = length(regexp_replace(lower(col(textCol)), "[a-z0-9 ]", ""))
    df.select(
      col(idCol),
      nTok.as("n_tok"),
      when(nTok > 0, r4(sumLen.cast("double") / nTok)).as("avg_tok_len"),
      when(nTok > 0, r6(nStop.cast("double") / nTok)).as("stop_ratio"),
      r6(punct.cast("double") / length(col(textCol))).as("punct_ratio"))
  }

  /** Hashing-trick linear quality scorer — the fasttext/CCNet-classifier
    * INFERENCE shape used for model-based quality filtering: each token
    * maps to a bucket `pmod(hash(token), dim)`, the document score is the
    * mean bucket weight (length-invariant logit). Weights here are a
    * deterministic stand-in derived from `hash(seed:bucket)` on an exact
    * 1e-6 grid, so the oracle replays them bit-for-bit; a TRAINED model
    * plugs into the identical plan as a broadcast weight array (same
    * broadcast-expression path as the large-k IVF codebook) — the scan,
    * hash chain and partial aggregation don't change.
    *
    * Scale shape: one narrow pass (token explode → hash → weight) feeding
    * a partial-aggregated mean per document — O(total tokens), whole-stage
    * codegen, no text shuffled (only (id, weight) pairs reach the
    * exchange, and map-side combine collapses them per document first).
    */
  def hashedLinearScore(
      df: DataFrame, idCol: String, textCol: String,
      dim: Int = 4096, seed: String = "graft"): DataFrame = {
    require(dim > 0, "dim must be positive")
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
    val bucket = pmod(graftHash(col("__tok")), lit(dim.toLong))
    val weight = (graftHash(concat(lit(seed + ":"), bucket)) % 2000001L)
      .cast("double") / 1000000.0 - 1.0
    val agg = tok.select(col(idCol), weight.as("__w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tok"), r4(avg(col("__w"))).as("quality"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("quality"), lit(0.0)).as("quality"))
  }

  /** Document fingerprint: minimum hashed k-shingle (MinHash permutation 0 of
    * the identity permutation — a stable 60-bit content fingerprint robust to
    * local edits away from the minimum shingle).
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    df.select(col(idCol), array_min(shingleHashes(tokens(col(textCol)), k)).as("fp"))

  /** BPE-ish token count: letter runs, digit runs, single punctuation marks. */
  def bpeTokenCount(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), size(bpeTokens(col(textCol))).as("n_bpe"))

  /** One BPE-training iteration's pair census: frequencies of adjacent
    * character pairs within words, weighted by word frequency — the inner
    * loop of byte-pair-encoding vocabulary construction (the top pair is
    * the next merge). Scale shape: the corpus first collapses to its WORD
    * CENSUS (one shuffle on distinct words — Zipf makes this orders of
    * magnitude smaller than the token stream), then pairs explode only
    * over distinct words carrying their counts; corpus characters are
    * never re-shuffled. Top-k via sort+limit (TakeOrderedAndProject — no
    * global sort materialization). Deterministic tie-break on the pair.
    */
  def bpePairCounts(df: DataFrame, textCol: String, topK: Int = 30): DataFrame = {
    val words = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wf"))
    words.filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))")).as("pair"),
        col("wf"))
      .groupBy("pair").agg(sum("wf").as("cnt"))
      .orderBy(desc("cnt"), asc("pair")).limit(topK)
  }

  /** Iterative BPE VOCABULARY TRAINING — the full merge loop over
    * [[bpePairCounts]]'s inner census. Returns the learned merge table:
    * `(rank, lhs, rhs, merged, cnt)`, one row per merge in order.
    *
    * Scale shape: the corpus collapses ONCE to its word census (Zipf-small
    * — the only corpus-sized shuffle), then each merge is ONE aggregation
    * over the census plus a narrow map (the merge rewrite) — a driver loop
    * of `nMerges` small jobs, never a corpus re-read. The census is
    * locally checkpointed per round so the plan stays flat.
    *
    * DETERMINISM / cross-engine replay: words are represented as
    * space-wrapped symbol strings (`" h  e  l  l  o "`), a merge of
    * `(a, b)` is the literal replace of `" a  b "` with `" ab "` — both
    * Spark's and DuckDB's `replace` scan left-to-right non-overlapping,
    * which equals the reference BPE's greedy-left merge (a replaced
    * occurrence can never re-match within the same round: the merged
    * symbol is strictly longer). Ties break on count DESC then the
    * tab-joined pair ASC (tab sorts below every alnum symbol byte, so
    * string order equals `(lhs, rhs)` tuple order). The q205 oracle
    * replays the identical loop as a 30-level chained CTE in DuckDB,
    * byte-identical vocab.
    */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int = 30): DataFrame =
    bpeMergeLoop(
      df.select(explode(tokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wf"))
        .select(regexp_replace(col("w"), "(.)", " $1 ").as("s"), col("wf")),
      nMerges)

  /** The shared census-driven merge loop behind [[bpeTrain]] (character
    * symbols) and [[bpeTrainBytes]] (UTF-8-byte symbols): `cur0` is the
    * weighted census as space-wrapped symbol strings `(s, wf)`; each round
    * is one pair census over it plus a narrow merge rewrite.
    */
  private def bpeMergeLoop(cur0: DataFrame, nMerges: Int): DataFrame = {
    val spark = cur0.sparkSession
    import spark.implicits._
    var cur = cur0.localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    for (r <- 1 to nMerges if !exhausted) {
      val best = cur
        .select(split(trim(col("s")), "  ").as("l"), col("wf"))
        .filter(size(col("l")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(l) - 1), " +
            "j -> concat(element_at(l, j), '\t', element_at(l, j + 1)))")).as("pr"),
          col("wf"))
        .groupBy("pr").agg(sum("wf").as("cnt"))
        .orderBy(desc("cnt"), asc("pr")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val parts = best.head.getString(0).split('\t')
        val (a, b, cnt) = (parts(0), parts(1), best.head.getLong(1))
        merges += ((r, a, b, cnt))
        cur = cur.withColumn("s",
          replace(col("s"), lit(s" $a  $b "), lit(s" $a$b "))).localCheckpoint()
      }
    }
    merges.toSeq.toDF("rank", "lhs", "rhs", "cnt")
      .select(col("rank").cast("int").as("rank"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("cnt"))
  }

  /** Apply a TRAINED BPE merge list ([[bpeTrain]]'s output) to the corpus:
    * per-document token counts under the learned vocabulary — the encode
    * half of the tokenizer pipeline. Scale shape: the merge chain runs
    * ONCE over the distinct-word CENSUS (Zipf-small; all `nMerges`
    * replaces fuse into one narrow projection), then each document sums
    * its words' token counts through a join — corpus text is never
    * re-scanned per merge. Documents with zero tokens are absent (their
    * count is undefined, like [[repetitionMetrics]]).
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
    val census = words.select("w").distinct()
      .withColumn("s", regexp_replace(col("w"), "(.)", " $1 "))
    val applied = merges.foldLeft(census) { case (d, (a, b)) =>
      d.withColumn("s", replace(col("s"), lit(s" $a  $b "), lit(s" $a$b ")))
    }
    val tokCount = applied.select(col("w"),
      size(split(trim(col("s")), "  ")).cast("long").as("nt"))
    words.join(tokCount, "w")
      .groupBy(idCol).agg(sum("nt").as("n_bpe"))
  }

  /** ENCODE TO TOKEN-ID SEQUENCES — the actual training-data artifact (what
    * shard packing ultimately packs): per document, the ordered
    * `array<int>` of vocabulary ids under a trained merge list, plus its
    * length `n_bpe`. Vocabulary ids follow the standard BPE convention:
    * base alphabet first (single characters, byte-sorted, ids `0..B-1`),
    * then one id per merge in rank order (`B + rank - 1`); a merged
    * surface string that collides with an earlier entry keeps the earlier
    * (smaller) id, so the token→id map is a function.
    *
    * Scale shape: the merge chain applies ONCE to the distinct-word census
    * (Zipf-small), each census word maps to its id array through a ~66-
    * entry literal map (no shuffle), and documents reassemble by joining
    * words to the census and flattening `sort_array(collect_list(struct(
    * pos, ids)))` per document — the id-sequence sibling of [[bpeEncode]]'s
    * count-only join, one extra shuffle on the document key, never a
    * per-merge corpus re-scan. The only driver-side state is the base
    * alphabet (bounded by the tokenizer class `[a-z0-9]` → ≤ 36 chars) and
    * the merge list the caller already holds. Documents with zero tokens
    * are absent (their sequence is empty, like [[bpeEncode]]).
    */
  def bpeEncodeIds(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = df.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("__wi", "w")))
    val census = words.select("w").distinct()
      .withColumn("s", regexp_replace(col("w"), "(.)", " $1 "))
    val applied = merges.foldLeft(census) { case (d, (a, b)) =>
      d.withColumn("s", replace(col("s"), lit(s" $a  $b "), lit(s" $a$b ")))
    }
    // base alphabet: distinct single characters of the census, byte-sorted.
    // Bounded by the tokens() character class — a driver collect of ≤ 36
    // one-char strings, not corpus-scale state.
    val baseChars = census
      .select(explode(split(col("w"), "")).as("c"))
      .filter(length(col("c")) === 1).distinct().orderBy("c")
      .collect().map(_.getString(0)).toSeq
    val vocab = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    baseChars.zipWithIndex.foreach { case (c, i) => vocab.getOrElseUpdate(c, i) }
    mergedIdMap(merges, baseChars.size).foreach { case (tok, id) =>
      vocab.getOrElseUpdate(tok, id)
    }
    val vocabCol = typedLit(vocab.toMap)
    val wordIds = applied.select(col("w"),
      transform(split(trim(col("s")), "  "), sym => element_at(vocabCol, sym))
        .as("__tids"))
    reassembleIds(words, wordIds, idCol)
  }

  /** Merge-surface → id, ranks in order starting at `base`; a merged
    * surface that collides with an earlier entry keeps the earlier
    * (smaller) id — the one id rule every encode path shares.
    */
  private def mergedIdMap(merges: Seq[(String, String)], base: Int): Map[String, Int] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    merges.zipWithIndex.foreach { case ((a, b), i) => m.getOrElseUpdate(a + b, base + i) }
    m.toMap
  }

  /** The shared reassembly tail of every id-sequence encode: positioned
    * words join their census id arrays, each document flattens
    * `sort_array(collect_list(struct(pos, ids)))` — one doc-key shuffle.
    */
  private def reassembleIds(words: DataFrame, wordIds: DataFrame, idCol: String): DataFrame =
    words.join(wordIds, "w")
      .groupBy(idCol)
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__wi"), col("__tids")))),
        e => e("__tids"))).as("token_ids"))
      .withColumn("n_bpe", size(col("token_ids")).cast("long"))

  /** GPT-2-style pre-tokenization pattern for the BYTE-level tokenizer:
    * contraction suffixes, optional-space-prefixed letter runs, digit
    * runs, other-symbol runs, then whitespace runs. Deliberately drops the
    * reference pattern's `\s+(?!\S)` trailing-space lookahead — RE2 (the
    * oracle's regex engine) has no lookahead, and the simplified split is
    * a valid pre-tokenizer in its own right (trailing spaces fold into the
    * whitespace run instead of attaching to the next word). Whitespace is
    * spelled as an explicit class because Java's `\s` and RE2's differ on
    * vertical tab.
    */
  val BytePretokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\r\\f\\x0B\\p{L}\\p{N}]+|[ \\t\\n\\r\\f\\x0B]+"

  private def pretokens(c: Column): Column =
    regexp_extract_all(c, lit(BytePretokenPattern), lit(0))

  /** A pre-token as a space-wrapped BYTE-symbol string: each UTF-8 byte
    * becomes its lowercase two-hex-char symbol (`"é"` → `" c3  a9 "`).
    * Merged symbols concatenate hex pairs — every symbol is an even-length
    * hex string, so concatenation is uniquely decodable with no joiner,
    * and symbols stay pure ASCII: the census tie-break and the merge
    * replaces never meet a multi-byte character, which is what makes the
    * Spark and DuckDB replays byte-identical on non-ASCII text.
    */
  private def byteSyms(c: Column): Column =
    regexp_replace(lower(hex(c)), "(..)", " $1 ")

  /** BYTE-LEVEL BPE vocabulary training — [[bpeTrain]]'s production
    * sibling (the GPT-2/tiktoken family): the corpus pre-tokenizes with
    * [[BytePretokenPattern]] (case preserved, leading space attached —
    * unlike [[tokens]]' lowercased `[a-z0-9]+`), each pre-token unrolls to
    * its UTF-8 byte symbols, and the merge loop runs unchanged over the
    * Zipf-small pre-token census. Returns `(rank, lhs, rhs, merged, cnt)`
    * with lhs/rhs/merged as lowercase hex byte strings.
    */
  def bpeTrainBytes(df: DataFrame, textCol: String, nMerges: Int = 30): DataFrame =
    bpeMergeLoop(
      df.select(explode(pretokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wf"))
        .select(byteSyms(col("w")).as("s"), col("wf")),
      nMerges)

  /** ENCODE TO TOKEN-ID SEQUENCES under a BYTE-level vocabulary
    * ([[bpeTrainBytes]]' merges): ids follow the GPT-2 convention — a base
    * symbol's id IS its byte value (0..255, no census-derived alphabet),
    * merge of rank r gets `255 + r`, duplicate merged surfaces keep the
    * earlier (smaller) id. Scale shape matches [[bpeEncodeIds]]: the merge
    * chain applies once to the distinct pre-token census, base ids come
    * from an inline hex→int conversion (no 256-entry literal), merged ids
    * from an O(nMerges) literal map, and documents reassemble through one
    * doc-key shuffle.
    */
  def bpeEncodeIdsBytes(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = df.select(col(idCol), posexplode(pretokens(col(textCol))).as(Seq("__wi", "w")))
    val census = words.select("w").distinct().withColumn("s", byteSyms(col("w")))
    val applied = merges.foldLeft(census) { case (d, (a, b)) =>
      d.withColumn("s", replace(col("s"), lit(s" $a  $b "), lit(s" $a$b ")))
    }
    val mergedMap = typedLit(mergedIdMap(merges, 256))
    val wordIds = applied.select(col("w"),
      transform(split(trim(col("s")), "  "), sym =>
        when(length(sym) === 2, conv(sym, 16, 10).cast("int"))
          .otherwise(element_at(mergedMap, sym))).as("__tids"))
    reassembleIds(words, wordIds, idCol)
  }

  /** PRODUCTION-SCALE BPE vocabulary training on the merges axis —
    * [[bpeTrainBytes]] with the merge loop run IN MEMORY over the collected
    * census instead of one Spark job per merge. The distributed loop is
    * fine at toy merge counts, but at a production 32k–50k-merge vocabulary
    * it is 50k sequential driver round-trips — hours of pure job latency
    * regardless of cluster size. This is how production trainers
    * (GPT-2/tiktoken family) work: the corpus collapses ONCE to its
    * Zipf-small pre-token census (the only corpus-sized pass — one shuffle
    * on the pre-token), the census collects to the driver, and the merge
    * loop runs in memory with an indexed incremental pair census —
    * O(total census symbols + Σ touched-word lengths), seconds-class in
    * the merge count.
    *
    * Bit-identical to [[bpeTrainBytes]] by construction (spec-asserted):
    * the in-memory loop counts every adjacent symbol pair (overlaps
    * included, weighted by word frequency), breaks ties on count DESC then
    * the tab-joined pair ASC (symbols are pure-ASCII hex, so JVM string
    * order equals the engines' byte order), and applies each merge
    * left-to-right non-overlapping — exactly the distributed loop's
    * `replace` semantics.
    *
    * Driver memory is bounded by `maxCensusWords` (fails loudly past it) —
    * the census is distinct PRE-TOKENS, Zipf-bounded, not corpus-sized;
    * `minFrequency > 1` prunes the census's singleton tail before the
    * collect (what production trainers do on web-scale corpora) at the
    * cost of training on the pruned census.
    */
  def bpeTrainBytesInMemory(
      df: DataFrame, textCol: String, nMerges: Int,
      minFrequency: Long = 1L, maxCensusWords: Long = 20_000_000L): DataFrame =
    inMemoryTrain(
      df.select(explode(pretokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wf"))
        .filter(col("wf") >= minFrequency)
        .select(byteSyms(col("w")).as("s"), col("wf")),
      nMerges, maxCensusWords, "bpeTrainBytesInMemory")

  /** CHARACTER-level in-memory BPE training — [[bpeTrain]]'s in-memory
    * sibling (exactly as [[bpeTrainBytesInMemory]] is [[bpeTrainBytes]]'):
    * the corpus collapses ONCE to its Zipf-small word census (the only
    * corpus-sized pass), the census collects to the driver, and the merge
    * loop runs in [[trainMergesInMemory]] — bit-identical to the
    * distributed loop (spec-asserted), seconds-class in the merge count
    * instead of one Spark job per merge. The catalog's tokenize/pack
    * entries use this as their vocabulary-prep step; the distributed loop
    * stays the operator under test in q205.
    */
  def bpeTrainInMemory(
      df: DataFrame, textCol: String, nMerges: Int,
      minFrequency: Long = 1L, maxCensusWords: Long = 20_000_000L): DataFrame =
    inMemoryTrain(
      df.select(explode(tokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wf"))
        .filter(col("wf") >= minFrequency)
        .select(regexp_replace(col("w"), "(.)", " $1 ").as("s"), col("wf")),
      nMerges, maxCensusWords, "bpeTrainInMemory")

  /** Shared collect + in-memory-loop tail of [[bpeTrainBytesInMemory]] and
    * [[bpeTrainInMemory]]: `censusDf` is the space-wrapped symbol census
    * `(s, wf)` — the only corpus-sized pass either caller runs.
    */
  private def inMemoryTrain(
      censusDf: DataFrame, nMerges: Int, maxCensusWords: Long,
      label: String): DataFrame = {
    val spark = censusDf.sparkSession
    import spark.implicits._
    val census = censusDf.collect() // Zipf-bounded: distinct words, not corpus rows
    require(census.length <= maxCensusWords,
      s"$label: census has ${census.length} words, over the " +
        s"$maxCensusWords driver bound — raise minFrequency (production " +
        "trainers prune the singleton tail) or maxCensusWords")
    val words = census.map(r => (r.getString(0).trim.split("  "), r.getLong(1)))
    trainMergesInMemory(words, nMerges)
      .toDF("rank", "lhs", "rhs", "cnt")
      .select(col("rank").cast("int").as("rank"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("cnt"))
  }

  /** The in-memory merge loop behind [[bpeTrainBytesInMemory]]: an indexed
    * incremental pair census (count map + sorted candidate set + pair→word
    * inverted index), each merge touching only the words that contain its
    * pair. Semantics are EXACTLY the distributed loop's: overlap-inclusive
    * adjacent-pair counts weighted by `wf`, best = (count DESC, tab-joined
    * pair ASC), merge applied left-to-right non-overlapping, loop stops
    * early when no pairs remain.
    */
  private[graft] def trainMergesInMemory(
      census: Array[(Array[String], Long)],
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val syms = census.map(_._1) // mutated in place per merge
    val wf = census.map(_._2)
    val cnt = mutable.HashMap.empty[String, Long] // "lhs\trhs" -> weighted count
    val wordsOf = mutable.HashMap.empty[String, mutable.Set[Int]]
    // sorted candidates: count DESC, pair string ASC — first() is the merge
    val order = new java.util.TreeSet[(Long, String)](
      new java.util.Comparator[(Long, String)] {
        def compare(a: (Long, String), b: (Long, String)): Int = {
          val c = java.lang.Long.compare(b._1, a._1)
          if (c != 0) c else a._2.compareTo(b._2)
        }
      })
    def bump(pair: String, delta: Long, wid: Int, add: Boolean): Unit = {
      val old = cnt.getOrElse(pair, 0L)
      if (old != 0L) order.remove((old, pair))
      val now = old + delta
      if (now != 0L) { cnt(pair) = now; order.add((now, pair)) }
      else cnt.remove(pair)
      if (add) wordsOf.getOrElseUpdate(pair, mutable.Set.empty[Int]) += wid
      else wordsOf.get(pair).foreach { s =>
        // un-counting removes ALL of this word's occurrences of the pair
        // and the re-count after the merge re-adds the wid for pairs still
        // present, so dropping the wid here keeps the index EXACT — its
        // memory stays proportional to LIVE pair occurrences instead of
        // every (pair, word) combination ever observed, which would
        // otherwise dominate the heap at a 20M-word census with 32k–50k
        // merges (round-19 advisory)
        s -= wid
        if (s.isEmpty) wordsOf.remove(pair)
      }
    }
    def pairsOf(w: Array[String], f: (String, Int) => Unit): Unit = {
      var i = 0
      while (i + 1 < w.length) { f(w(i) + "\t" + w(i + 1), i); i += 1 }
    }
    var wi = 0
    while (wi < syms.length) {
      pairsOf(syms(wi), (p, _) => bump(p, wf(wi), wi, add = true))
      wi += 1
    }
    val merges = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    while (r <= nMerges && !order.isEmpty) {
      val (bestCnt, bestPair) = order.first()
      val Array(a, b) = bestPair.split('\t')
      merges += ((r, a, b, bestCnt))
      val merged = a + b
      val affected = wordsOf.getOrElse(bestPair, mutable.Set.empty)
        .toArray // iteration order is irrelevant: updates are additive
      wordsOf.remove(bestPair)
      var k = 0
      while (k < affected.length) {
        val id = affected(k)
        val w = w2(syms(id), a, b, merged)
        if (w ne null) { // defensive: the pruned index is exact, so null
          // (word no longer contains the pair) should not occur
          pairsOf(syms(id), (p, _) => bump(p, -wf(id), id, add = false))
          syms(id) = w
          pairsOf(w, (p, _) => bump(p, wf(id), id, add = true))
        }
        k += 1
      }
      r += 1
    }
    merges.toSeq
  }

  /** Left-to-right non-overlapping merge of (a, b) → merged in a symbol
    * array — the in-memory equal of `replace(s, " a  b ", " ab ")` (a
    * replaced occurrence is consumed; scanning resumes after it). Returns
    * null when the pair does not occur (the caller's stale-index filter).
    */
  private def w2(w: Array[String], a: String, b: String, merged: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    var hit = false
    while (i < w.length) {
      if (i + 1 < w.length && w(i) == a && w(i + 1) == b) {
        out += merged; hit = true; i += 2
      } else { out += w(i); i += 1 }
    }
    if (hit) out.toArray else null
  }

  /** ENCODE TO TOKEN-ID SEQUENCES under a byte-level vocabulary via
    * SEQUENTIAL REPLAY IN A UDF — [[bpeEncodeIdsBytes]]' production sibling
    * for LARGE merge lists. The chained-replace form fuses `nMerges`
    * `replace` expressions into one projection: sound at tens of merges, an
    * expression-tree/codegen blowup at thousands. Here the census word maps
    * to its id array through ONE deterministic JVM function that replays
    * the merges in rank order (each left-to-right non-overlapping — bit-
    * identical to the replace chain, spec-asserted), skipping merges whose
    * symbols never occurred in the word via a superset symbol set — O(len)
    * per skipped merge batch, O(nMerges + Σ applied·len) per census word.
    * Corpus scale shape is unchanged: the chain runs over the Zipf-small
    * census once, documents reassemble through one doc-key shuffle.
    */
  def bpeEncodeIdsBytesSeq(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    val bm = spark.sparkContext.broadcast((merges.toArray, mergedIdMap(merges, 256)))
    val encodeUdf = udf { (w: String) =>
      val (ms, ids) = bm.value
      val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var cur = new Array[String](bytes.length)
      val present = scala.collection.mutable.HashSet.empty[String]
      var i = 0
      while (i < bytes.length) {
        cur(i) = f"${bytes(i) & 0xff}%02x"
        present += cur(i)
        i += 1
      }
      var m = 0
      while (m < ms.length && cur.length >= 2) {
        val (a, b) = ms(m)
        // `present` is a SUPERSET of current symbols (never pruned): a miss
        // proves the pair can't occur; a stale hit only costs the scan
        if (present.contains(a) && present.contains(b)) {
          val next = w2(cur, a, b, a + b)
          if (next ne null) { cur = next; present += a + b }
        }
        m += 1
      }
      cur.map(s => if (s.length == 2) Integer.parseInt(s, 16) else ids(s))
    }
    val words = df.select(col(idCol), posexplode(pretokens(col(textCol))).as(Seq("__wi", "w")))
    val wordIds = words.select("w").distinct()
      .withColumn("__tids", encodeUdf(col("w")))
    reassembleIds(words, wordIds, idCol)
  }

  /** DECODE — token-id sequences back to text under a BYTE-level
    * vocabulary ([[bpeTrainBytes]]/[[bpeTrainBytesInMemory]] merges, ids
    * per [[bpeEncodeIdsBytes]]' GPT-2 convention). Each id maps to its
    * byte-symbol surface — id < 256 is the byte itself, merge of rank r
    * (id 255 + r) is the merged hex surface; the inverse of the encode-side
    * id map is a FUNCTION even when two ranks share a surface, because
    * every id has exactly one surface (the duplicate-surface rank's id just
    * never appears in encoded output). Surfaces concatenate to the UTF-8
    * byte stream and decode to text.
    *
    * Byte-level BPE makes `decode(encode(t)) == t` exact by construction:
    * [[BytePretokenPattern]]'s branches cover every character (letters,
    * digits, the explicit whitespace class, and an everything-else run), so
    * the pre-tokens concatenate back to the original text with no loss —
    * q237 oracles the round trip md5-per-document. This is the sample-
    * inspection / contamination-audit path a production pipeline runs
    * daily over packed shards.
    *
    * The id→surface replay runs in ONE deterministic JVM function with the
    * merge list broadcast — same justification as [[bpeEncodeIdsBytesSeq]]:
    * a production merge count must never enter the expression tree. Narrow
    * per-row map work, no shuffle, no census. Appends `decoded` (null in →
    * null out; an id outside [0, 255 + merges.length] fails loudly — it
    * cannot come from this vocabulary).
    */
  def bpeDecodeIdsBytes(df: DataFrame, idsCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    val bs = spark.sparkContext.broadcast(merges.toArray.map { case (a, b) => a + b })
    val decodeUdf = udf { (ids: Seq[Int]) =>
      if (ids == null) null
      else {
        val surf = bs.value
        val hex = new java.lang.StringBuilder(ids.length * 2)
        ids.foreach { id =>
          if (id >= 0 && id < 256) {
            hex.append("0123456789abcdef".charAt(id >> 4))
            hex.append("0123456789abcdef".charAt(id & 0xf))
          } else if (id >= 256 && id - 256 < surf.length) hex.append(surf(id - 256))
          else throw new IllegalArgumentException(
            s"bpeDecodeIdsBytes: id $id is outside the ${256 + surf.length}-entry vocabulary")
        }
        val bytes = new Array[Byte](hex.length / 2)
        var i = 0
        while (i < bytes.length) {
          bytes(i) = ((Character.digit(hex.charAt(2 * i), 16) << 4)
            | Character.digit(hex.charAt(2 * i + 1), 16)).toByte
          i += 1
        }
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      }
    }
    df.withColumn("decoded", decodeUdf(col(idsCol)))
  }

  /** DECODE under a CHAR-level vocabulary ([[bpeTrain]] merges, ids per
    * [[bpeEncodeIds]]' convention: base char c at its byte-sorted rank,
    * merge of rank r at B + r − 1). DETOKENIZATION, not inversion — the
    * char-level tokenizer ([[tokens]]) drops case/punctuation/spacing, so
    * the output is the concatenation of token surfaces; the exact
    * round-trip property lives on the byte-level path
    * ([[bpeDecodeIdsBytes]]). `extra` maps reserved ids (e.g. the EOS id
    * appended by the packing entries) to display surfaces.
    *
    * The id→surface map here is bounded by the base alphabet (≤ 36 chars)
    * plus the toy merge counts this family trains, so it rides the plan as
    * one small literal map (no UDF); an id outside the map fails loudly
    * rather than silently dropping from the concatenation. Appends
    * `decoded`.
    */
  def bpeDecodeIdsChars(df: DataFrame, idsCol: String,
      merges: Seq[(String, String)], baseChars: Seq[String],
      extra: Map[Int, String] = Map.empty): DataFrame = {
    val surfaces: Map[Int, String] =
      baseChars.zipWithIndex.map { case (c, i) => i -> c }.toMap ++
        merges.zipWithIndex.map { case ((a, b), i) => (baseChars.size + i) -> (a + b) } ++
        extra
    val m = typedLit(surfaces)
    val decodedArr = transform(col(idsCol), id => element_at(m, id))
    df.withColumn("decoded",
      when(exists(decodedArr, s => s.isNull),
        raise_error(lit(s"bpeDecodeIdsChars: $idsCol contains an id outside the " +
          s"${surfaces.size}-entry vocabulary")))
        .otherwise(array_join(decodedArr, "")))
  }

  /** Repetition metrics — duplicate-token fraction and top-token share,
    * the classic boilerplate/low-quality markers in published corpus
    * filtering rules — from a single fused pass per document
    * ([[graft.functions.TokenStats]]): no explode, no shuffle, narrow map
    * work at any corpus size. Docs with zero tokens are dropped (the
    * ratios are undefined there).
    */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = graft.functions.TextFunctions.tokenStats(tokens(col(textCol)))
    df.select(col(idCol), st.as("st"))
      .select(col(idCol), col("st.n_tok").as("n_tok"),
        col("st.n_distinct").as("n_distinct"), col("st.top_cnt").as("top_cnt"))
      .filter(col("n_tok") > 0)
      .withColumn("dup_frac", r4(lit(1.0) - col("n_distinct").cast("double") / col("n_tok")))
      .withColumn("top_share", r4(col("top_cnt").cast("double") / col("n_tok")))
  }

  /** Statistical-quality scoring against the corpus itself: an add-one-
    * smoothed bigram language model is TRAINED on the whole corpus (bigram
    * and context counts via two aggregations over exploded bigrams, vocab
    * size via one distinct count — all distributed, no driver state) and
    * every document is scored by its perplexity under that model,
    * `exp(-mean log P(w_i | w_{i-1}))`. High perplexity = improbable token
    * sequences = the gibberish/boilerplate signal published corpus filters
    * use. Documents with fewer than two tokens are dropped (undefined).
    *
    * Per-bigram log-probs are r6-rounded before the mean so the
    * cross-engine float drift stays below the r4 rounding of the final
    * score. Scale shape: the joins shuffle on bigram/context keys —
    * Zipf-heavy keys are exactly what AQE skew handling exists for.
    */
  def lmPerplexity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), tokens(col(textCol)).as("tk"))
    val bg = toks.filter(size(col("tk")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bgCounts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val ctxCounts = bg.groupBy("w1").agg(count(lit(1)).as("cu"))
    val vocab = toks.select(explode(col("tk")).as("w")).agg(countDistinct("w").as("v"))
    val lp = round(log((col("cb") + 1).cast("double") / (col("cu") + col("v"))), 6)
    bg.join(bgCounts, Seq("w1", "w2"))
      .join(ctxCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol), lp.as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), r4(exp(-avg("lp"))).as("ppl"))
  }
}

/** Dataset profiling: one row per column with the stats a pipeline health
  * check needs (nulls, distincts, min/max).
  *
  * Mixing several exact `countDistinct`s into one aggregation makes Catalyst
  * Expand-multiply every input row once per distinct column (N× scan
  * amplification plus giant shuffles at 100 TB), so exact profiling runs as
  * two Expand-free distributed passes and fully composes in the plan — no
  * driver-side count()/collect():
  *   1. one codegen'd whole-stage aggregation for counts/min/max, unpivoted
  *      with `stack`;
  *   2. a melt to (col_name, value) rows → two-phase distinct (map-side
  *      partial dedup, then one shuffle keyed by (col_name, value)).
  */
object Profiling {

  private def statsPass(df: DataFrame, cols: Seq[String], extra: String => Seq[Column]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nonnull"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max")) ++ extra(c)
    }
    df.agg(count(lit(1)).as("__total"), aggs: _*)
  }

  /** Exact distinct counts per column, one shuffle, no Expand: melt to
    * (col_name, value-as-string) then two-phase distinct. Distinctness is
    * taken on the canonical string rendering (exact for integral / string /
    * boolean columns; doubles round-trip losslessly through Spark's
    * rendering).
    */
  private def distinctPass(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stackArgs = cols.map(c => s"'$c', CAST(`$c` AS STRING)").mkString(", ")
    df.select(expr(s"stack(${cols.size}, $stackArgs)").as(Seq("col_name", "val")))
      .filter(col("val").isNotNull)
      .distinct()
      .groupBy("col_name").agg(count(lit(1)).as("n_distinct"))
  }

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stackArgs = cols.map(c => s"'$c', `${c}__nonnull`, `${c}__min`, `${c}__max`").mkString(", ")
    val stats = statsPass(df, cols, _ => Nil).select(
      col("__total").as("n_rows"),
      expr(s"stack(${cols.size}, $stackArgs)").as(Seq("col_name", "nonnull", "min_val", "max_val")))
    stats.join(distinctPass(df, cols), Seq("col_name"), "left")
      .select(
        col("col_name"), col("n_rows"),
        (col("n_rows") - col("nonnull")).as("n_null"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_val"), col("max_val"))
  }

  /** The 100 TB default: a single scan, no melt shuffle — distincts are
    * HyperLogLog++ sketches (relative standard deviation `rsd`), which merge
    * as ordinary partial aggregates, so N columns profile in one pass with
    * no Expand.
    */
  def profileApprox(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame = {
    val stackArgs = cols.map(c =>
      s"'$c', `${c}__nonnull`, `${c}__min`, `${c}__max`, `${c}__distinct`").mkString(", ")
    statsPass(df, cols, c => Seq(approx_count_distinct(col(c), rsd).as(s"${c}__distinct")))
      .select(
        col("__total").as("n_rows"),
        expr(s"stack(${cols.size}, $stackArgs)")
          .as(Seq("col_name", "nonnull", "min_val", "max_val", "n_distinct")))
      .select(
        col("col_name"), col("n_rows"),
        (col("n_rows") - col("nonnull")).as("n_null"),
        col("n_distinct"), col("min_val"), col("max_val"))
  }

  /** Metadata-only profile of a published reftable: rows, null counts and
    * min/max per statable column straight from the snapshot's
    * `_STATS.json` manifest — ZERO data pages read, so a 100 TB table
    * profiles in the time it takes to read one small JSON file. Columns
    * the manifest doesn't cover (strings, decimals, timestamps) are
    * omitted; a column absent from some files (schema evolution) reports
    * a null `n_null` (those files' null counts are unknowable without a
    * scan). Values render as the raw storage scalar (dates are epoch
    * days). Requires a manifest — published tables always have one.
    */
  def profileFromStats(
      spark: org.apache.spark.sql.SparkSession, root: String,
      version: Option[String] = None): DataFrame = {
    import graft.sources.reftable.{RefTableStats, SnapshotFiles}
    val conf = graft.sources.reftable.HadoopConf()
    val dir = SnapshotFiles.resolveDir(root, version, conf)
    val manifest = RefTableStats.load(dir, conf).getOrElse(
      throw new IllegalArgumentException(
        s"$dir carries no ${RefTableStats.ManifestName}; publish through VersionedTable " +
          "or write one with RefTableStats.writeManifest"))
    val files = manifest.values.toSeq
    val totalRows = files.map(_.rows).sum
    val colNames = files.flatMap(_.cols.keys).distinct.sorted
    val rows = colNames.map { c =>
      val entries = files.flatMap(f => f.cols.get(c).map((f.rows, _)))
      val everywhere = entries.size == files.size
      val nullsKnown = everywhere && entries.forall(_._2.nulls >= 0L)
      val nNull: Any = if (nullsKnown) Long.box(entries.map(_._2.nulls).sum) else null
      val mins = entries.flatMap(_._2.min)
      val maxs = entries.flatMap(_._2.max)
      def pick(ns: Seq[com.fasterxml.jackson.databind.JsonNode], takeMin: Boolean): Any =
        if (ns.isEmpty) null
        else if (ns.forall(_.isIntegralNumber)) {
          val vs = ns.map(_.asLong); (if (takeMin) vs.min else vs.max).toString
        } else {
          val vs = ns.map(_.asDouble); (if (takeMin) vs.min else vs.max).toString
        }
      org.apache.spark.sql.Row(c, totalRows, nNull, pick(mins, takeMin = true),
        pick(maxs, takeMin = false))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType.fromDDL(
        "col_name STRING, n_rows BIGINT, n_null BIGINT, min_val STRING, max_val STRING"))
  }
}
