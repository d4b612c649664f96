package graft.queries

import graft.QueryDef
import graft.functions.GraftFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization, quality
  * scoring, language-ID, fingerprinting, BPE-ish token counting — all over the
  * `documents` table, all pure narrow map work (no shuffle except the final
  * aggregations), so they scale linearly with corpus size.
  */
object TextOps {
  import RelationalSupport.t

  /** DuckDB CTE producing (doc_id, t=tokens) — the oracle twin of tokens(). */
  val ToksCte = "toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') t FROM documents)"

  val defs: Seq[QueryDef] = Seq(
    // Repetition quality metrics — duplicate-token fraction and top-token
    // share, the published corpus-filtering repetition signals — computed
    // in ONE fused JVM pass per document (TokenStats expression: no
    // explode, no shuffle). The oracle recomputes via unnest + two
    // aggregations, so a hash match proves the fused pass exact.
    QueryDef("q104_repetition", (s, dir) => {
      graft.operators.TextAnalysis.repetitionMetrics(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
        |cnt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(c) AS INT) AS n_tok, CAST(count(*) AS INT) AS n_distinct,
        |  CAST(max(c) AS INT) AS top_cnt FROM cnt GROUP BY 1)
        |SELECT doc_id, n_tok, n_distinct, top_cnt,
        |  round(1.0 - n_distinct / CAST(n_tok AS DOUBLE), 4) AS dup_frac,
        |  round(top_cnt / CAST(n_tok AS DOUBLE), 4) AS top_share
        |FROM agg WHERE n_tok > 0 ORDER BY doc_id""".stripMargin)),

    // Token-length histogram in power-of-two buckets: the sequence-length
    // planning profile a training pipeline runs before packing (-1 =
    // tokenless doc). Pure map + one tiny aggregation.
    QueryDef("q105_length_histogram", (s, dir) => {
      val n = size(tokens(col("text")))
      t(s, dir, "documents")
        .select(when(n === 0, lit(-1))
          .otherwise(floor(log2(n.cast("double"))).cast("int")).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
        .orderBy("bucket")
    }, Some(
      """SELECT CASE WHEN n = 0 THEN -1 ELSE CAST(floor(log2(n)) AS INT) END AS bucket,
        |  count(*) AS n_docs
        |FROM (SELECT len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Corpus-trained bigram-LM perplexity: the model (add-one-smoothed
    // bigram counts + vocab) is trained ON the corpus with two
    // aggregations, then every document is scored under it — the
    // statistical gibberish/boilerplate signal. The oracle re-trains and
    // re-scores the same model in SQL; per-bigram log-probs r6-round on
    // both sides before the mean so the r4 score is engine-stable.
    QueryDef("q114_lm_perplexity", (s, dir) => {
      graft.operators.TextAnalysis.lmPerplexity(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') t FROM documents),
        |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |       FROM toks, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
        |cb AS (SELECT w1, w2, count(*) c FROM bg GROUP BY 1, 2),
        |cu AS (SELECT w1, count(*) c FROM bg GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) n FROM (SELECT unnest(t) AS w FROM toks)),
        |sc AS (SELECT b.doc_id, round(ln((cb.c + 1) / CAST(cu.c + v.n AS DOUBLE)), 6) AS lp
        |       FROM bg b JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams, round(exp(-avg(lp)), 4) AS ppl
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("q14_token_counts", (s, dir) => {
      graft.operators.TextAnalysis.tokenCounts(t(s, dir, "documents"), "lang", "text")
        .orderBy("lang", "word")
    }, Some(
      s"""WITH $ToksCte
         |SELECT lang, w AS word, count(*) AS n FROM (
         |  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) w FROM documents)
         |GROUP BY lang, w ORDER BY lang, word""".stripMargin)),

    QueryDef("q20_lang_id", (s, dir) => {
      graft.operators.TextAnalysis.languageId(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') tk FROM documents),
        |s AS (SELECT doc_id, text,
        |  len(list_filter(tk, x -> x IN ('the','and','of','to','in','is'))) s_en,
        |  len(list_filter(tk, x -> x IN ('el','la','los','que','y','en'))) s_es,
        |  len(list_filter(tk, x -> x IN ('der','die','und','das','ist'))) s_de,
        |  len(list_filter(tk, x -> x IN ('le','les','des','et','une','dans'))) s_fr
        |  FROM t)
        |SELECT doc_id, CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |  WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |  WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |  WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin)),

    QueryDef("q21_text_quality", (s, dir) => {
      graft.operators.TextAnalysis.qualityScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      s"""WITH $ToksCte
         |SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tok,
         |  CASE WHEN len(t) > 0 THEN round(list_sum(list_transform(t, x -> len(x))) * 1.0 / len(t), 4) END AS avg_tok_len,
         |  CASE WHEN len(t) > 0 THEN round(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','on'))) * 1.0 / len(t), 6) END AS stop_ratio,
         |  round(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) * 1.0 / len(text), 6) AS punct_ratio
         |FROM toks JOIN documents USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // THE GOPHER QUALITY RULES (Rae et al. 2021 A1.1 — the filter set
    // Dolma/FineWeb derive from), round 15: every rule evaluated as an
    // INTEGER-EXACT comparison (cross-multiplied thresholds, never a
    // double boundary), so per-document decisions reproduce bit-identically
    // in DuckDB. One codegen'd projection per doc, no shuffle before the
    // per-language census.
    QueryDef("q202_gopher_rules", (s, dir) => {
      val docs = t(s, dir, "documents")
      val flags = graft.operators.TextAnalysis.gopherRules(docs, "doc_id", "text")
      val rules = Seq("r_wordcount", "r_meanlen", "r_alpha", "r_stop",
        "r_symbol", "r_bullet", "r_ellipsis")
      docs.select("doc_id", "lang").join(flags, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          (sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass") +:
            rules.map(r => sum(when(!col(r), 1L).otherwise(0L))
              .as("f_" + r.stripPrefix("r_")))): _*)
        .orderBy("lang")
    }, Some(
      """WITH d AS (
        |  SELECT doc_id, lang, text,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang, len(toks) AS n,
        |    COALESCE(CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT), 0) AS sumlen,
        |    len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS alpha,
        |    len(list_intersect(list_distinct(toks),
        |      ['the','be','to','of','and','that','have','with'])) AS nstop,
        |    length(text) - length(replace(text, '#', '')) AS hashes,
        |    (length(text) - length(replace(text, '...', ''))) // 3 AS ell,
        |    len(ls) AS nlines,
        |    len(list_filter(ls, l -> regexp_matches(l, '^\s*[-*]'))) AS bl,
        |    len(list_filter(ls, l -> regexp_matches(l, '\.\.\.$'))) AS el
        |  FROM d),
        |r AS (
        |  SELECT lang,
        |    (n >= 50 AND n <= 100000) AS rw,
        |    (n > 0 AND 3*n <= sumlen AND sumlen <= 10*n) AS rm,
        |    (n > 0 AND 10*alpha >= 8*n) AS ra,
        |    (nstop >= 2) AS rs,
        |    (n > 0 AND 10*(hashes + ell) < n) AS ry,
        |    (10*bl <= nlines) AS rb,
        |    (10*el <= 3*nlines) AS re
        |  FROM m)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN rw AND rm AND ra AND rs AND ry AND rb AND re THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(sum(CASE WHEN NOT rw THEN 1 ELSE 0 END) AS BIGINT) AS f_wordcount,
        |  CAST(sum(CASE WHEN NOT rm THEN 1 ELSE 0 END) AS BIGINT) AS f_meanlen,
        |  CAST(sum(CASE WHEN NOT ra THEN 1 ELSE 0 END) AS BIGINT) AS f_alpha,
        |  CAST(sum(CASE WHEN NOT rs THEN 1 ELSE 0 END) AS BIGINT) AS f_stop,
        |  CAST(sum(CASE WHEN NOT ry THEN 1 ELSE 0 END) AS BIGINT) AS f_symbol,
        |  CAST(sum(CASE WHEN NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS f_bullet,
        |  CAST(sum(CASE WHEN NOT re THEN 1 ELSE 0 END) AS BIGINT) AS f_ellipsis
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("q22_fingerprint", (s, dir) => {
      graft.operators.TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      s"""WITH $ToksCte
         |SELECT doc_id,
         |  list_min(list_transform(
         |    list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
         |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS fp
         |FROM toks ORDER BY doc_id""".stripMargin)),

    // quality-gate pipeline: filter the corpus on quality metrics, report
    // survivors per language — the shape of a real training-data filter pass.
    QueryDef("q61_quality_filter", (s, dir) => {
      val docs = t(s, dir, "documents")
      val q = graft.operators.TextAnalysis.qualityScore(docs, "doc_id", "text")
      docs.join(q, Seq("doc_id"))
        .filter(col("n_tok") >= 30 && col("punct_ratio") <= 0.1)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }, Some(
      s"""WITH $ToksCte,
         |q AS (SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tok,
         |  round(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) * 1.0 / len(text), 6) AS punct_ratio
         |  FROM toks JOIN documents USING (doc_id))
         |SELECT lang, count(*) AS n FROM documents JOIN q USING (doc_id)
         |WHERE n_tok >= 30 AND punct_ratio <= 0.1
         |GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("q23_bpe_token_count", (s, dir) => {
      graft.operators.TextAnalysis.bpeTokenCount(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INTEGER) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Duplicated 5-gram window fraction — the exact-substring dedup
    // signal: per document, the share of its 5-token windows that also
    // occur in other documents. The corpus has natural cross-document
    // phrase repetition, so the metric is non-trivial as-is; windows
    // travel as the portable 60-bit hash on the Spark side while the
    // oracle replays the identical hash construction in SQL.
    QueryDef("q130_dup_ngram_fraction", (s, dir) => {
      graft.operators.TextAnalysis.duplicatedNgramFraction(
        t(s, dir, "documents"), "doc_id", "text", n = 5, maxDocs = 1)
        .orderBy("doc_id")
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    unnest([CAST(('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15)) AS BIGINT)
        |            FOR i IN generate_series(1, len(t) - 4)]) AS win
        |  FROM toks WHERE len(t) >= 5),
        |c AS (SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) > 1),
        |agg AS (
        |  SELECT w.doc_id, count(*) AS nw,
        |    sum(CASE WHEN c.win IS NOT NULL THEN 1 ELSE 0 END) AS nd
        |  FROM w LEFT JOIN c ON w.win = c.win GROUP BY w.doc_id)
        |SELECT t.doc_id,
        |  CAST(COALESCE(agg.nw, 0) AS BIGINT) AS n_windows,
        |  CAST(COALESCE(agg.nd, 0) AS BIGINT) AS n_dup,
        |  CAST(CASE WHEN COALESCE(agg.nw, 0) > 0
        |    THEN round(agg.nd * 1.0 / agg.nw, 6) ELSE 0.0 END AS DOUBLE) AS dup_frac
        |FROM toks t LEFT JOIN agg ON t.doc_id = agg.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    // hashing-trick linear scorer (the fasttext/CCNet quality-classifier
    // inference shape): token → bucket → weight → per-doc mean logit. The
    // deterministic stand-in weights replay exactly in SQL; a trained
    // model swaps in as a broadcast array over the same plan.
    QueryDef("q135_hashed_quality", (s, dir) => {
      graft.operators.TextAnalysis.hashedLinearScore(
        t(s, dir, "documents"), "doc_id", "text", dim = 4096, seed = "graft")
        .orderBy("doc_id")
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM documents),
        |wts AS (
        |  SELECT doc_id,
        |    (CAST(('0x' || substr(md5('graft:' ||
        |       (CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 4096)), 1, 15))
        |      AS BIGINT) % 2000001) / 1000000.0 - 1.0 AS w
        |  FROM toks),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_tok, round(avg(w), 4) AS quality
        |  FROM wts GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(agg.n_tok, 0) AS BIGINT) AS n_tok,
        |  CAST(COALESCE(agg.quality, 0.0) AS DOUBLE) AS quality
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // exact-substring span removal: the acting half of q130's signal —
    // every token covered by a window occurring in >1 documents is cut
    // from every document, survivors reassembled in order. The oracle
    // replays the identical hash construction, coverage union, anti-join
    // and ordered reassembly in SQL.
    QueryDef("q134_remove_dup_spans", (s, dir) => {
      graft.operators.TextAnalysis.removeDuplicatedSpans(
        t(s, dir, "documents"), "doc_id", "text", n = 5, maxDocs = 1)
        .orderBy("doc_id")
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    unnest([{'p': i,
        |      'h': CAST(('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15)) AS BIGINT)}
        |      FOR i IN generate_series(1, len(t) - 4)]) AS win
        |  FROM toks WHERE len(t) >= 5),
        |w2 AS (SELECT doc_id, win.p AS p, win.h AS h FROM w),
        |hot AS (SELECT h FROM w2 GROUP BY h HAVING count(DISTINCT doc_id) > 1),
        |cov AS (
        |  SELECT DISTINCT doc_id, unnest(generate_series(p, p + 4)) AS i
        |  FROM w2 JOIN hot USING (h)),
        |ti AS (
        |  SELECT doc_id, unnest(t) AS tok,
        |    unnest(generate_series(1, len(t))) AS i
        |  FROM toks),
        |kept AS (
        |  SELECT ti.doc_id, ti.i, ti.tok FROM ti
        |  LEFT JOIN cov ON ti.doc_id = cov.doc_id AND ti.i = cov.i
        |  WHERE cov.i IS NULL),
        |agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
        |    count(*) AS nk
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
        |  CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  CAST(len(t.t) - COALESCE(agg.nk, 0) AS BIGINT) AS n_removed
        |FROM toks t LEFT JOIN agg ON t.doc_id = agg.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    // Cross-document paragraph dedup (C4/RefinedWeb boilerplate removal):
    // the corpus has no natural multi-paragraph structure, so — like
    // q78's planted PII — every document gets a planted boilerplate
    // header (appears in ALL docs) plus a footer that is boilerplate on
    // doc_id%5 (appears in N/5 docs, also over the threshold at every SF)
    // and unique otherwise. The op must strip exactly the over-threshold
    // paragraphs and reassemble in order; md5 of the cleaned text proves
    // byte-exact reassembly against the oracle's ordered string_agg.
    QueryDef("q129_paragraph_dedup", (s, dir) => {
      val built = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("Subscribe to our newsletter.\n"), col("text"), lit("\n"),
          when(col("doc_id") % 5 === 0, lit("Follow us."))
            .otherwise(concat(lit("Unique footer "), col("doc_id").cast("string"))))
          .as("text"))
      graft.operators.TextAnalysis.dedupParagraphs(built, "doc_id", "text", maxDocs = 10)
        .select(col("doc_id"), md5(col("text")).as("clean_md5"), col("n_removed"))
        .orderBy("doc_id")
    }, Some(
      """WITH built AS (
        |  SELECT doc_id, 'Subscribe to our newsletter.' || chr(10) || text || chr(10) ||
        |    CASE WHEN doc_id % 5 = 0 THEN 'Follow us.'
        |      ELSE 'Unique footer ' || CAST(doc_id AS VARCHAR) END AS t
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    unnest(string_split(t, chr(10))) AS para,
        |    generate_subscripts(string_split(t, chr(10)), 1) AS pos
        |  FROM built),
        |c AS (
        |  SELECT para FROM p WHERE trim(para) <> ''
        |  GROUP BY para HAVING count(DISTINCT doc_id) > 10),
        |k AS (
        |  SELECT p.doc_id, p.pos, p.para, (c.para IS NULL OR trim(p.para) = '') AS keep
        |  FROM p LEFT JOIN c ON p.para = c.para)
        |SELECT doc_id,
        |  md5(COALESCE(string_agg(CASE WHEN keep THEN para END, chr(10) ORDER BY pos), ''))
        |    AS clean_md5,
        |  CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // token-window chunking (pretraining / RAG ingestion prep): 64-token
    // windows, 16-token overlap, chunk text reassembled from the original
    // whitespace tokens. Narrow codegen fan-out, no shuffle before the
    // ordering; the md5 over each chunk's text makes the hash compare prove
    // the exact token windows, not just counts.
    QueryDef("q137_chunk_documents", (s, dir) => {
      graft.operators.TextAnalysis
        .chunkDocuments(t(s, dir, "documents"), "doc_id", "text", maxTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx"), md5(col("chunk_text")).as("chunk_md5"),
          col("n_tokens"))
        .orderBy("doc_id", "chunk_idx")
    }, Some(
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    greatest(1, CAST(ceil((len(toks) - 16) / 48.0) AS INT)) AS nc FROM t),
        |x AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |    array_to_string(list_slice(toks, i * 48 + 1, i * 48 + 64), ' ') AS chunk_text,
        |    CAST(least(64, n - i * 48) AS BIGINT) AS n_tokens
        |  FROM c, unnest(generate_series(0, nc - 1)) AS u(i))
        |SELECT doc_id, chunk_idx, md5(chunk_text) AS chunk_md5, n_tokens
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin)),

    // PII redaction: deterministic email/phone/IP injections (by doc_id
    // residue, like q129's boilerplate build) scrubbed to typed placeholder
    // tokens; the oracle replays the identical injection + replacement
    // chain in DuckDB (regexp_replace 'g', RE2-compatible patterns), so the
    // md5 hash match proves byte-identical redacted text AND counts.
    QueryDef("q138_pii_redaction", (s, dir) => {
      val built = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" Contact user"), col("doc_id").cast("string"), lit("@example.com now")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" Call +1 555-123-4567 or (415) 555-0199"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" from 10.0.42.7")).otherwise(lit("")))
          .as("text"))
      graft.operators.TextAnalysis.redactPii(built, "doc_id", "text")
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_emails"), col("n_phones"), col("n_ips"))
        .orderBy("doc_id")
    }, Some {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "(\\+?\\d{1,3}[- ])?\\(?\\d{3}\\)?[- ]?\\d{3}[- ]?\\d{4}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      s"""WITH built AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' Call +1 555-123-4567 or (415) 555-0199' ELSE '' END ||
         |    CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.42.7' ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t,
         |    '$email', '[EMAIL]', 'g'),
         |    '$phone', '[PHONE]', 'g'),
         |    '$ip', '[IP]', 'g')) AS clean_md5,
         |  CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ips
         |FROM built ORDER BY doc_id""".stripMargin
    }),

    // BPE vocabulary training's inner loop: the adjacent-character-pair
    // census over the corpus, weighted by word frequency — the top pair
    // is the next BPE merge. The corpus collapses to its word census
    // first (one shuffle over distinct words; Zipf shrinks this by
    // orders of magnitude), pairs explode only over distinct words, and
    // the top-k is a bounded sort (TakeOrderedAndProject).
    QueryDef("q158_bpe_pairs", (s, dir) => {
      graft.operators.TextAnalysis.bpePairCounts(t(s, dir, "documents"), "text", topK = 30)
    }, Some(
      """WITH words AS (
        |  SELECT w, count(*) AS wf FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |    FROM documents) GROUP BY w),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair, wf
        |  FROM words WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(wf) AS BIGINT) AS cnt FROM pairs
        |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30""".stripMargin)),

    // Iterative BPE vocabulary TRAINING (round 16): the full merge loop,
    // not just one census — 30 merges learned over the documents corpus,
    // each merge one aggregation over the Zipf-small word census. The
    // oracle replays the IDENTICAL loop as a 30-level chained CTE in
    // DuckDB (same space-wrapped symbol strings, same left-to-right
    // non-overlapping replace, same count-desc/pair-asc tie-break) —
    // byte-identical vocabulary, rank by rank.
    QueryDef("q205_bpe_train", (s, dir) => {
      graft.operators.TextAnalysis.bpeTrain(t(s, dir, "documents"), "text", nMerges = 30)
        .orderBy("rank")
    }, Some(TextOps.bpeTrainOracle(30))),

    // BPE ENCODE (round 16): the tokenizer pipeline end-to-end — train the
    // 30-merge vocabulary, then ENCODE the corpus under it. The merge
    // chain applies ONCE to the distinct-word census (30 replaces fused
    // into one projection) and each document sums its words' token counts
    // through a join; the oracle re-derives the identical vocabulary and
    // re-encodes the identical census in DuckDB.
    QueryDef("q210_bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.TextAnalysis.bpeTrainInMemory(docs, "text", nMerges = 30)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_bpe").as("tot_bpe"),
          min("n_bpe").as("min_bpe"), max("n_bpe").as("max_bpe"))
        .orderBy("lang")
    }, Some(TextOps.bpeEncodeOracle(30))),

    // TOKEN-ID SEQUENCES (round 17): the actual training-data artifact —
    // each document's ordered array of vocabulary ids under the trained
    // 30-merge vocabulary (base alphabet ids first, then one id per merge
    // rank). The entry explodes a deterministic 2% document subset to
    // (doc_id, pos, tid) rows so the oracle hash proves every sequence
    // element-by-element; the oracle re-derives the identical vocabulary,
    // segments the census, and reassembles per-document order in DuckDB.
    QueryDef("q212_bpe_token_ids", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.TextAnalysis.bpeTrainInMemory(docs, "text", nMerges = 30)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", merges)
        .filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), posexplode(col("token_ids")).as(Seq("pos", "tid")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("tid").cast("long").as("tid"))
        .orderBy("doc_id", "pos")
    }, Some(TextOps.bpeTokenIdsOracle(30))),

    // TOKENIZE → PACK (round 17): the tokenize-then-shard last mile — BPE
    // token counts feed the two-level-prefix-sum shard packer, so shard
    // boundaries fall on exact BPE sequence lengths (what a training job
    // actually packs). Oracle = vocabulary replay + the single global
    // running sum the distributed prefix sum must equal exactly.
    // SHARD WRITE (round 17): the end of the pipeline — per-document
    // token-ID arrays packed by BPE length and WRITTEN as a Hive-
    // partitioned table (shard=N directories of parquet holding the id
    // arrays), then read back through the reftable source with partition
    // pruning on the shard key. id_mass sums the ids themselves out of
    // the shard files, so the oracle hash proves the ARRAYS landed —
    // packShards now literally packs token-id arrays into shard files.
    QueryDef("q219_shard_write", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.TextAnalysis.bpeTrainInMemory(docs, "text", nMerges = 30)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // materialize the encode ONCE: packShards' stats pass, the shard
      // join and the write would otherwise each re-run the census join
      val enc = graft.operators.TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", merges)
        .localCheckpoint()
      // CORPUS-SCALED budget (round 19): the fixed 4096-token toy budget
      // made shard count linear in the corpus — 25k shard dirs at 100×,
      // per-shard-file constants ~e1.1. packShardsAuto saturates the shard
      // count at targetShards (budget = max(4096, ceil(total/256))), so
      // file-count constants are corpus-independent at scale; the oracle
      // recomputes the same integer budget formula.
      val packed = graft.operators.Curation.packShardsAuto(
        enc, "doc_id", "n_bpe", targetShards = 256, minBudget = 4096L)
      val out = RelationalSupport.scratchDir(s, dir, "q219_shards")
      // ATTACH the plan to the payload without shuffling the payload by
      // doc_id (guide §8): shard = floor(prefix-sum-in-doc_id-order/budget)
      // is monotone in doc_id, so each shard owns a CONTIGUOUS doc_id range
      // — ≤targetShards boundary rows broadcast at ANY corpus size, and the
      // only payload exchange left is the final repartition(shard). The
      // equi-join-back shuffled the token-id arrays by doc_id first (SMJ on
      // two checkpoint-leaf sides), i.e. the payload moved twice.
      val bounds = packed.groupBy("shard")
        .agg(min("doc_id").as("__lo"), max("doc_id").as("__hi"))
      graft.sources.reftable.VersionedTable.publish(
        enc.join(broadcast(bounds),
            enc("doc_id") >= col("__lo") && enc("doc_id") <= col("__hi"))
          .select(col("doc_id"), col("token_ids"), col("n_bpe"), col("shard"))
          // co-locate each shard before the dynamic-partition write: without
          // this every task touches every shard dir (tasks × shards small
          // files — measured 5.7× wall at 10×); with it, one file per shard
          .repartition(col("shard")),
        // versioned (manifest-listed) root, NOT a bare partitionBy write:
        // a fixed token budget means shard COUNT scales with the corpus,
        // and the bare-Hive read path refuses >4096 directories by design
        // (per-refresh driver re-walk) — the 100x spot check hit exactly
        // that guard. The manifest lists any shard count in one read.
        out, layout = graft.sources.reftable.Layout.Partitioned(Seq("shard")))
      s.read.format("reftable")
        .option("path", out)
        .option("schema", "doc_id BIGINT, token_ids ARRAY<INT>, n_bpe BIGINT, shard INT")
        .option("partitionColumns", "shard")
        .load()
        .filter(col("shard") < 4)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_bpe").as("tok"),
          sum(aggregate(col("token_ids"), lit(0L), (a, x) => a + x)).as("id_mass"))
        .orderBy("shard")
    }, Some(TextOps.shardWriteOracle(30, minBudget = 4096L, targetShards = 256, shardLt = 4))),

    QueryDef("q213_tokenize_pack", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.TextAnalysis.bpeTrainInMemory(docs, "text", nMerges = 30)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // deliberately NOT checkpointed: only two lineage uses here (stats
      // pass + final aggregate), and the A/B showed recompute beats
      // materializing the id arrays (14.8 vs 18.9 s at sf0.1); q219 with
      // three uses plus the write is where the checkpoint wins
      val enc = graft.operators.TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", merges)
      graft.operators.Curation.packShards(enc, "doc_id", "n_bpe", budget = 4096L)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok"),
          min("doc_id").as("lo"), max("doc_id").as("hi"))
        .orderBy("shard")
    }, Some(TextOps.tokenizePackOracle(30, 4096L))),

    // BYTE-LEVEL BPE TRAINING (round 18): the production tokenizer family
    // (GPT-2/tiktoken) — regex pre-tokenization (case kept, leading space
    // attached, contractions split) and UTF-8 BYTE symbols, so vocabulary
    // and ids are well-defined on any text. The corpus gets deterministic
    // non-ASCII tails (accents, №, em-dash — 2- and 3-byte UTF-8) so the
    // hash proves the multi-byte path; symbols are lowercase hex byte
    // pairs (merges concatenate — uniquely decodable, pure ASCII, so the
    // census tie-break can't diverge on collation). Oracle replays the
    // identical pre-tokenizer (the pattern is lookahead-free for RE2) and
    // the identical merge loop.
    QueryDef("q225_bpe_byte_train", (s, dir) => {
      graft.operators.TextAnalysis
        .bpeTrainBytes(TextOps.byteCorpus(t(s, dir, "documents")), "text", nMerges = 30)
        .orderBy("rank")
    }, Some(TextOps.bpeTrainBytesOracle(30))),

    // BYTE-LEVEL TOKEN-ID SEQUENCES (round 18): encode the augmented
    // corpus under the byte vocabulary — base ids ARE the byte values
    // (0..255, GPT-2 convention), merge rank r at 255 + r. Sampled
    // documents explode to (doc_id, pos, tid) so the hash proves every
    // sequence element, multi-byte characters included.
    QueryDef("q226_bpe_byte_ids", (s, dir) => {
      val docs = TextOps.byteCorpus(t(s, dir, "documents"))
      val merges = graft.operators.TextAnalysis.bpeTrainBytesInMemory(docs, "text", nMerges = 30)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.TextAnalysis.bpeEncodeIdsBytes(docs, "doc_id", "text", merges)
        .filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), posexplode(col("token_ids")).as(Seq("pos", "tid")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("tid").cast("long").as("tid"))
        .orderBy("doc_id", "pos")
    }, Some(TextOps.bpeByteIdsOracle(30))),

    // CONTEXT-WINDOW PACKING (round 18): the step between tokenization and
    // the training loop — documents concatenate in doc_id order into one
    // global token stream that splits into fixed 2048-token examples
    // (windows CROSS document boundaries; the last is short). Offsets come
    // from the shared two-level prefix sum (no global window), tokens map
    // to examples by arithmetic, examples reassemble via ONE shuffle.
    // Every example is checked: length, id mass, and a position-weighted
    // mass that pins elementwise ORDER — the oracle recomputes the same
    // global positions as a single running row_number in DuckDB.
    QueryDef("q230_context_pack", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.TextAnalysis.bpeTrainInMemory(docs, "text", nMerges = 30)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // materialize the encode ONCE: packSequences' driver-side range-stats
      // collect would otherwise re-run the full census-join encode before
      // the real job (the q219 lesson, same shape)
      val enc = graft.operators.TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", merges)
        .localCheckpoint()
      graft.operators.Curation.packSequences(enc, "doc_id", "token_ids", seqLen = 2048)
        .select(col("example_id"),
          col("n_tok").cast("long").as("n_tok"),
          aggregate(col("token_ids"), lit(0L), (a, x) => a + x).as("id_mass"),
          aggregate(
            zip_with(col("token_ids"), sequence(lit(1), size(col("token_ids"))),
              (t, i) => t.cast("long") * i),
            lit(0L), (a, x) => a + x).as("ord_mass"))
        .orderBy("example_id")
    }, Some(TextOps.contextPackOracle(30, 2048))),

    // PRODUCTION-SCALE BPE TRAINING (round 19): the merges axis at a real
    // vocabulary size. The distributed loop (q225) is one Spark job per
    // merge — invisible at 30 merges, 50k sequential driver round-trips at
    // a production vocabulary. Here the corpus collapses ONCE to its
    // Zipf-small pre-token census (the only corpus-sized pass), the census
    // collects to the driver, and 2048 merges train in memory with an
    // indexed incremental pair census — how production trainers work,
    // bit-identical to the distributed loop (spec-asserted). The synthetic
    // corpus's 31-word vocabulary can't sustain a production merge count,
    // so the corpus gets a deterministic Zipf-ish pseudo-word enrichment
    // (id-keyed letter words over 10 moduli — ~2.2k distinct census words,
    // counts from ~n/3 down to 1), computed identically in both engines.
    // The oracle replays the ENTIRE merge loop as ONE recursive CTE (the
    // per-level chained-CTE machinery of q225 cannot reach 2048 levels):
    // each recursion step derives the round's argmax over the carried
    // census and rewrites it, and the merge table re-derives per rank from
    // the recursion history.
    QueryDef("q231_bpe_train_prod", (s, dir) => {
      graft.operators.TextAnalysis
        .bpeTrainBytesInMemory(TextOps.richCorpus(t(s, dir, "documents")), "text",
          nMerges = TextOps.ProdMerges)
        .orderBy("rank")
    }, Some(TextOps.bpeTrainProdOracle(TextOps.ProdMerges))),

    // PRODUCTION-SCALE BPE ENCODE (round 19): token-id sequences under the
    // 2048-merge vocabulary. The chained-replace projection (q226) fuses
    // one replace per merge — an expression-tree/codegen blowup at
    // thousands of merges; here each census word replays the merge list
    // sequentially inside ONE deterministic JVM function (bit-identical to
    // the replace chain, spec-asserted), so the merge count never touches
    // the plan. Sampled documents explode to (doc_id, pos, tid) — the hash
    // proves every sequence element under the production vocabulary.
    QueryDef("q232_bpe_ids_prod", (s, dir) => {
      val docs = TextOps.richCorpus(t(s, dir, "documents"))
      val merges = graft.operators.TextAnalysis
        .bpeTrainBytesInMemory(docs, "text", nMerges = TextOps.ProdMerges)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.TextAnalysis.bpeEncodeIdsBytesSeq(docs, "doc_id", "text", merges)
        .filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), posexplode(col("token_ids")).as(Seq("pos", "tid")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("tid").cast("long").as("tid"))
        .orderBy("doc_id", "pos")
    }, Some(TextOps.bpeProdIdsOracle(TextOps.ProdMerges))),

    // CENSUS-PRUNED BPE TRAINING (round 19): the web-scale driver-memory
    // story — at 100 TB the distinct pre-token census can exceed any
    // single machine, and production trainers prune the singleton tail
    // before materializing counts. minFrequency=3 drops rare words BEFORE
    // the collect (the census filter is one HAVING on the distributed
    // aggregation), and the merge loop trains on the pruned census; the
    // oracle replays the same threshold then the same recursion. Trained
    // vocabulary differs from the unpruned one by construction — that is
    // the documented production trade, here pinned and replayable.
    QueryDef("q235_bpe_pruned_census", (s, dir) => {
      graft.operators.TextAnalysis
        .bpeTrainBytesInMemory(TextOps.richCorpus(t(s, dir, "documents")), "text",
          nMerges = 512, minFrequency = 3L)
        .orderBy("rank")
    }, Some(TextOps.bpeTrainProdOracle(512, minFreq = 3L))),

    // EOS-SEPARATED CONTEXT PACKING (round 19): q230 with the document
    // separator every production pretraining pipeline inserts — each
    // document's id sequence gets the reserved EOS id (the first id past
    // the trained vocabulary, base+nMerges) appended before the global
    // stream splits into fixed windows, so examples carry explicit
    // document boundaries. Same scale shape as q230 (two-level prefix
    // sum, one explode, one example-key shuffle); the oracle injects the
    // same EOS rows into its global running row_number.
    QueryDef("q236_context_pack_eos", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.TextAnalysis.bpeTrainInMemory(docs, "text", nMerges = 30)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // the reserved EOS id = first id past the vocabulary: base alphabet
      // size + nMerges (rank ids advance per merge even on surface
      // collisions)
      val b = TextOps.baseAlphabet(docs).size
      val enc = graft.operators.TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", merges)
        .withColumn("token_ids",
          concat(col("token_ids"), array(lit(b + merges.size))))
        .localCheckpoint()
      graft.operators.Curation.packSequences(enc, "doc_id", "token_ids", seqLen = 2048)
        .select(col("example_id"),
          col("n_tok").cast("long").as("n_tok"),
          aggregate(col("token_ids"), lit(0L), (a, x) => a + x).as("id_mass"),
          aggregate(
            zip_with(col("token_ids"), sequence(lit(1), size(col("token_ids"))),
              (t, i) => t.cast("long") * i),
            lit(0L), (a, x) => a + x).as("ord_mass"))
        .orderBy("example_id")
    }, Some(TextOps.contextPackEosOracle(30, 2048))),

    // TOKENIZER DECODE ROUND-TRIP (round 20): ids → text under the
    // production byte-level vocabulary — the previously-missing leg of the
    // tokenizer surface (train q231 / encode q232 / pack q236 existed;
    // sample inspection and contamination audits need DECODE). Byte-level
    // BPE makes decode(encode(t)) == t exact by construction — the
    // pre-tokenizer's branches cover every character and byte symbols
    // concatenate losslessly — so the oracle is simply the ORIGINAL text's
    // md5: a hash match proves the round trip byte-for-byte per document,
    // multi-byte UTF-8 included (the corpus composes the non-ASCII tails
    // with the vocabulary enrichment). The id→surface replay is one
    // broadcast JVM function (the merge count never enters the plan, like
    // the encode), narrow per-row work at any corpus size.
    QueryDef("q237_bpe_roundtrip", (s, dir) => {
      val docs = TextOps.richCorpus(TextOps.byteCorpus(t(s, dir, "documents")))
      val merges = graft.operators.TextAnalysis
        .bpeTrainBytesInMemory(docs, "text", nMerges = TextOps.ProdMerges)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val enc = graft.operators.TextAnalysis
        .bpeEncodeIdsBytesSeq(docs, "doc_id", "text", merges)
      val dec = graft.operators.TextAnalysis
        .bpeDecodeIdsBytes(enc, "token_ids", merges)
      // left join + coalesce: a doc the encode dropped (no pre-tokens —
      // impossible for non-empty text) must surface as a mismatch, not a
      // missing row
      docs.join(dec.select("doc_id", "decoded"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          md5(coalesce(col("decoded"), lit("")).cast("binary")).as("decoded_md5"),
          (coalesce(col("decoded"), lit("")) === col("text")).cast("int").as("ok"))
        .orderBy("doc_id")
    }, Some(TextOps.bpeRoundTripOracle)),

    // PACKED-EXAMPLE DECODE (round 20): the daily sample-inspection path
    // over the TRAINING ARTIFACT itself — q236's EOS-packed examples
    // decoded back to text, the reserved EOS id rendered as a newline so
    // document boundaries are visible in the decoded sample. Char-level
    // decode is detokenization (case/punctuation/spacing dropped at
    // tokenize time; the exact round trip is q237's byte-level property);
    // the oracle re-derives the same id→surface map from its vocabulary
    // CTEs and string_aggs each example's surfaces in global position
    // order — the md5 proves every example's decoded text element-exactly.
    QueryDef("q238_packed_decode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.TextAnalysis.bpeTrainInMemory(docs, "text", nMerges = 30)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // the decode map needs the base alphabet itself (not just its size)
      val baseChars = TextOps.baseAlphabet(docs)
      val eos = baseChars.size + merges.size
      val enc = graft.operators.TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", merges)
        .withColumn("token_ids", concat(col("token_ids"), array(lit(eos))))
        .localCheckpoint()
      val ex = graft.operators.Curation.packSequences(enc, "doc_id", "token_ids", seqLen = 2048)
      graft.operators.TextAnalysis
        .bpeDecodeIdsChars(ex, "token_ids", merges, baseChars, extra = Map(eos -> "\n"))
        .select(col("example_id"),
          col("n_tok").cast("long").as("n_tok"),
          size(filter(col("token_ids"), x => x === eos)).as("n_eos"),
          md5(col("decoded").cast("binary")).as("decoded_md5"))
        .orderBy("example_id")
    }, Some(TextOps.packedDecodeOracle(30, 2048))),

    // BOUNDARY-OFFSET METADATA IN PACKED EXAMPLES (round 20): q236's
    // EOS-separated packing with the per-example `doc_spans` column the
    // attention-masking pipelines need — the sorted start offsets of each
    // document segment inside the example (offset 0 always; plus every
    // offset where a document's first token lands, i.e. the position after
    // each EOS). Derived in the SAME explode pass and example-key shuffle
    // as the ids (the "first token of its doc" flag is posexplode's j == 0
    // — zero extra exchanges); the hash covers the spans element-exactly
    // via the comma-joined offset list, and the oracle extends the same
    // global running row_number replay with a min-gpos-per-document
    // segment-start derivation.
    QueryDef("q239_pack_doc_spans", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.TextAnalysis.bpeTrainInMemory(docs, "text", nMerges = 30)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val b = TextOps.baseAlphabet(docs).size
      val enc = graft.operators.TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", merges)
        .withColumn("token_ids",
          concat(col("token_ids"), array(lit(b + merges.size))))
        .localCheckpoint()
      graft.operators.Curation
        .packSequencesSpans(enc, "doc_id", "token_ids", seqLen = 2048)
        .select(col("example_id"),
          col("n_tok").cast("long").as("n_tok"),
          aggregate(col("token_ids"), lit(0L), (a, x) => a + x).as("id_mass"),
          size(col("doc_spans")).as("n_spans"),
          array_join(col("doc_spans").cast("array<string>"), ",").as("spans"))
        .orderBy("example_id")
    }, Some(TextOps.packDocSpansOracle(30, 2048))),

    // END-TO-END PRODUCTION TOKENIZER PIPELINE (round 20): the four
    // stages a real pretraining job chains — q231's in-memory 2048-merge
    // byte-BPE train, q232's sequential-replay encode, q236's EOS-append +
    // fixed-window pack, q219's corpus-scaled shard write — composed as
    // ONE entry, proving the column contracts align with nothing persisted
    // between stages (the two localCheckpoints are lineage-reuse guards,
    // not artifacts: encode feeds the pack's stats pass + explode, examples
    // feed the shard stats pass + join + write — the q219/q230 lesson).
    // The final artifact is the versioned shard-partitioned table of
    // packed examples a training loop consumes; the hash re-derives each
    // shard's token and id mass OUT OF the shard files. The oracle replays
    // the full chain: recursive merge loop, vocabulary, full-corpus global
    // row_number with per-doc EOS, window aggregation, auto-budget running
    // sum, per-shard aggregate.
    QueryDef("q241_tokenizer_pipeline", (s, dir) => {
      val docs = TextOps.richCorpus(t(s, dir, "documents"))
      val merges = graft.operators.TextAnalysis
        .bpeTrainBytesInMemory(docs, "text", nMerges = TextOps.ProdMerges)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // byte-level reserved EOS: first id past the trained vocabulary
      // (base 0..255, merge rank r at 255 + r) — 256 + TRAINED count, so
      // census exhaustion keeps both engines agreed
      val eos = 256 + merges.size
      val enc = graft.operators.TextAnalysis
        .bpeEncodeIdsBytesSeq(docs, "doc_id", "text", merges)
        .withColumn("token_ids", concat(col("token_ids"), array(lit(eos))))
        .localCheckpoint()
      val ex = graft.operators.Curation
        .packSequences(enc, "doc_id", "token_ids", seqLen = 2048)
        .localCheckpoint()
      val packed = graft.operators.Curation.packShardsAuto(
        ex, "example_id", "n_tok", targetShards = 8, minBudget = 4096L)
      val out = RelationalSupport.scratchDir(s, dir, "q241_shards")
      graft.sources.reftable.VersionedTable.publish(
        ex.join(packed.select("example_id", "shard"), "example_id")
          .select(col("example_id"), col("token_ids"), col("n_tok"), col("shard"))
          // co-locate each shard before the dynamic-partition write (the
          // q219 lesson: without it every task touches every shard dir)
          .repartition(col("shard")),
        out, layout = graft.sources.reftable.Layout.Partitioned(Seq("shard")))
      s.read.format("reftable")
        .option("path", out)
        .option("schema", "example_id BIGINT, token_ids ARRAY<INT>, n_tok INT, shard INT")
        .option("partitionColumns", "shard")
        .load()
        .groupBy("shard")
        .agg(count(lit(1)).as("n_examples"), sum("n_tok").as("tok"),
          sum(aggregate(col("token_ids"), lit(0L), (a, x) => a + x)).as("id_mass"))
        .orderBy("shard")
    }, Some(TextOps.tokenizerPipelineOracle(
      TextOps.ProdMerges, 2048, targetShards = 8, minBudget = 4096L)))
  )

  /** The q230 oracle: the q212 vocabulary/segmentation chain over ALL
    * documents, one global running row_number for token positions, then
    * per-example length / id mass / position-weighted mass.
    */
  def contextPackOracle(nMerges: Int, seqLen: Int): String =
    s"""WITH ${bpeLevels(nMerges)},
       |${bpeVocabCtes(nMerges)},
       |docw AS (
       |  SELECT doc_id, u.i AS wi, u.w AS w FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |      i -> {'i': i, 'w': ws[i]})) AS u
       |    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |          FROM documents))),
       |seq AS (
       |  SELECT CAST(row_number() OVER (ORDER BY doc_id, wi, j) - 1 AS BIGINT) AS gpos,
       |    CAST(tid AS BIGINT) AS tid
       |  FROM docw JOIN wid USING (w))
       |SELECT gpos // $seqLen AS example_id, count(*) AS n_tok,
       |  CAST(sum(tid) AS BIGINT) AS id_mass,
       |  CAST(sum(tid * (gpos % $seqLen + 1)) AS BIGINT) AS ord_mass
       |FROM seq GROUP BY 1 ORDER BY 1""".stripMargin

  /** The ONE copy of the EOS-packed replay chain shared by the
    * q236/q238/q239 oracles (vocabulary CTEs → trained merge count →
    * per-word token stream → per-doc EOS row at the 2147483647 wi
    * sentinel → global running row_number into the `seq` CTE): the EOS-id
    * expression, the sentinel ordering, and the tid cast must stay
    * bit-identical across the three, so they are written once.
    * `seqExtra` appends extra window columns to `seq` (q239's per-doc
    * rank). The EOS id is the first id past the vocabulary — base
    * alphabet size + the TRAINED merge count (derived from the oracle's
    * own merge tables, never the requested nMerges: on census exhaustion
    * both engines must agree on the same smaller count — review-wave
    * finding).
    */
  private def packedEosChain(nMerges: Int, seqExtra: String = ""): String =
    s"""${bpeLevels(nMerges)},
       |${bpeVocabCtes(nMerges)},
       |mcnt AS (SELECT CAST(count(*) AS BIGINT) AS k
       |  FROM (${(1 to nMerges).map(i => s"SELECT rank FROM m$i").mkString(" UNION ALL ")})),
       |docw AS (
       |  SELECT doc_id, u.i AS wi, u.w AS w FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |      i -> {'i': i, 'w': ws[i]})) AS u
       |    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |          FROM documents))),
       |tok AS (SELECT doc_id, wi, j, tid FROM docw JOIN wid USING (w)),
       |seq AS (
       |  SELECT CAST(row_number() OVER (ORDER BY doc_id, wi, j) - 1 AS BIGINT) AS gpos,
       |    CAST(tid AS BIGINT) AS tid$seqExtra
       |  FROM (
       |    SELECT doc_id, wi, j, tid FROM tok
       |    UNION ALL
       |    SELECT doc_id, 2147483647, 0, (SELECT b FROM nb) + (SELECT k FROM mcnt)
       |    FROM (SELECT DISTINCT doc_id FROM tok)))""".stripMargin

  /** The q236 oracle: q230's chain with one EOS row appended per document
    * before the global running row_number ([[packedEosChain]]).
    */
  def contextPackEosOracle(nMerges: Int, seqLen: Int): String =
    s"""WITH ${packedEosChain(nMerges)}
       |SELECT gpos // $seqLen AS example_id, count(*) AS n_tok,
       |  CAST(sum(tid) AS BIGINT) AS id_mass,
       |  CAST(sum(tid * (gpos % $seqLen + 1)) AS BIGINT) AS ord_mass
       |FROM seq GROUP BY 1 ORDER BY 1""".stripMargin

  /** The q237 oracle: byte-level BPE round-trips exactly, so the expected
    * decode of every document IS the document — the oracle only has to
    * rebuild the same composed corpus (byte tails, then the vocabulary
    * enrichment) and hash the ORIGINAL text. No merge replay needed, which
    * is what lets the entry train at the production merge count for free.
    */
  def bpeRoundTripOracle: String =
    s"""WITH ${byteCorpusCte(name = "c0")},
       |${richCorpusCte(from = "c0")}
       |SELECT doc_id, md5(text) AS decoded_md5, CAST(1 AS INT) AS ok
       |FROM corpus ORDER BY doc_id""".stripMargin

  /** The q238 oracle: the q236 chain (vocabulary, per-doc EOS row, global
    * running row_number, fixed windows) plus the id→surface DECODE map —
    * base chars at their byte-sorted ranks, merge rank r's surface at
    * b + r − 1 (every rank, duplicates included: ids are unique even when
    * surfaces collide), the EOS id as a newline — string_agg'd per example
    * in global position order.
    */
  def packedDecodeOracle(nMerges: Int, seqLen: Int): String =
    s"""WITH ${packedEosChain(nMerges)},
       |dec AS (
       |  SELECT CAST(row_number() OVER (ORDER BY c) - 1 AS BIGINT) AS tid, c AS sym FROM chars
       |  UNION ALL
       |  SELECT CAST(b + rank - 1 AS BIGINT), lhs || rhs
       |  FROM (${(1 to nMerges).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")}), nb
       |  UNION ALL
       |  SELECT (SELECT b FROM nb) + (SELECT k FROM mcnt), chr(10))
       |SELECT gpos // $seqLen AS example_id, count(*) AS n_tok,
       |  CAST(sum(CASE WHEN tid = (SELECT b FROM nb) + (SELECT k FROM mcnt)
       |    THEN 1 ELSE 0 END) AS INT) AS n_eos,
       |  md5(string_agg(d.sym, '' ORDER BY gpos)) AS decoded_md5
       |FROM seq JOIN dec d USING (tid)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The q239 oracle: the q236 chain (vocabulary, per-doc EOS row, global
    * running row_number, fixed windows) plus segment starts — a document's
    * first token is rank 1 of its per-document (wi, j) order; every
    * example also starts a segment at offset 0. The spans list replays as
    * a distinct-union + ordered string_agg.
    */
  def packDocSpansOracle(nMerges: Int, seqLen: Int): String =
    s"""WITH ${packedEosChain(nMerges, seqExtra =
        ",\n    row_number() OVER (PARTITION BY doc_id ORDER BY wi, j) AS rnd")},
       |starts AS (
       |  SELECT gpos // $seqLen AS example_id, CAST(gpos % $seqLen AS INT) AS off
       |  FROM seq WHERE rnd = 1
       |  UNION
       |  SELECT gpos // $seqLen AS example_id, 0 AS off FROM seq),
       |sp AS (
       |  SELECT example_id, CAST(count(*) AS INT) AS n_spans,
       |    string_agg(CAST(off AS VARCHAR), ',' ORDER BY off) AS spans
       |  FROM starts GROUP BY example_id),
       |main AS (
       |  SELECT gpos // $seqLen AS example_id, count(*) AS n_tok,
       |    CAST(sum(tid) AS BIGINT) AS id_mass
       |  FROM seq GROUP BY 1)
       |SELECT m.example_id, m.n_tok, m.id_mass, sp.n_spans, sp.spans
       |FROM main m JOIN sp USING (example_id) ORDER BY example_id""".stripMargin

  /** The char-level base alphabet of `bpeEncodeIds`' id convention —
    * distinct single characters of the token census, byte-sorted. ONE copy
    * (q236/q238/q239 all derive ids or the EOS id from it): a drifting
    * re-derivation would shift every token id by the alphabet-size delta
    * and surface only as an oracle hash mismatch.
    */
  def baseAlphabet(docs: DataFrame): Seq[String] =
    docs
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      .select(explode(split(col("w"), "")).as("c"))
      .filter(length(col("c")) === 1).distinct().orderBy("c")
      .collect().map(_.getString(0)).toSeq

  /** The Spark side of [[byteCorpusCte]]: the same deterministic non-ASCII
    * augmentation of the documents corpus.
    */
  def byteCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 4 === 0,
          concat(lit(" café №"), col("doc_id").cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" naïve—déjà vu")).otherwise(lit("")))
        .as("text"))

  /** The q205 oracle: `nMerges` chained CTE levels, each computing the
    * round's pair census over the space-wrapped symbol strings, its best
    * pair (count DESC, tab-joined pair ASC — identical tie-break to the
    * Spark loop), and the merged word forms for the next level.
    */
  def bpeTrainOracle(nMerges: Int): String =
    s"""WITH ${bpeLevels(nMerges)}
       |SELECT CAST(rank AS INT) AS rank, lhs, rhs, lhs || rhs AS merged, cnt
       |FROM (${(1 to nMerges).map(i => s"SELECT * FROM m$i").mkString("\nUNION ALL ")})
       |ORDER BY rank""".stripMargin

  /** The q210 oracle: derive the same vocabulary, then ENCODE — the final
    * level's census rows carry each word's merged symbol string, so the
    * per-word token count is one split length, joined back per document.
    */
  def bpeEncodeOracle(nMerges: Int): String =
    s"""WITH ${bpeLevels(nMerges)},
       |wordtok AS (
       |  SELECT w, CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS nt
       |  FROM w$nMerges),
       |docw AS (
       |  SELECT doc_id, lang,
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |  FROM documents),
       |perdoc AS (
       |  SELECT doc_id, lang, CAST(sum(nt) AS BIGINT) AS n_bpe
       |  FROM docw JOIN wordtok USING (w) GROUP BY 1, 2)
       |SELECT lang, count(*) AS n_docs, CAST(sum(n_bpe) AS BIGINT) AS tot_bpe,
       |  min(n_bpe) AS min_bpe, max(n_bpe) AS max_bpe
       |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin

  /** The q212 oracle: re-derive the vocabulary (base alphabet byte-sorted,
    * ids 0..B-1; merged token of rank r at B + r - 1, duplicate surfaces
    * keep the smallest id), segment the final census, and reassemble each
    * document's id sequence by (word position, symbol position).
    */
  /** Shared vocabulary/segmentation chain (appended after [[bpeLevels]]):
    * base alphabet + vocab ids + per-word (symbol position, token id) as
    * `wid` — the common prefix of the q212 and q219 oracles.
    */
  private def bpeVocabCtes(nMerges: Int): String =
    s"""chars AS MATERIALIZED (
       |  SELECT DISTINCT unnest(list_transform(range(1, length(w) + 1),
       |    i -> substr(w, i, 1))) AS c FROM w0),
       |nb AS (SELECT count(*) AS b FROM chars),
       |vocab AS MATERIALIZED (
       |  SELECT tok, MIN(tid) AS tid FROM (
       |    SELECT c AS tok, row_number() OVER (ORDER BY c) - 1 AS tid FROM chars
       |    UNION ALL
       |    SELECT lhs || rhs AS tok, b + rank - 1 AS tid
       |    FROM (${(1 to nMerges).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")}), nb
       |  ) GROUP BY tok),
       |syms AS MATERIALIZED (
       |  SELECT w, u.j AS j, u.s AS sym FROM (
       |    SELECT w, unnest(list_transform(range(1, len(l) + 1),
       |      j -> {'j': j, 's': l[j]})) AS u
       |    FROM (SELECT w, string_split(trim(s), '  ') AS l FROM w$nMerges))),
       |wid AS MATERIALIZED (
       |  SELECT sy.w, sy.j, v.tid FROM syms sy JOIN vocab v ON v.tok = sy.sym)""".stripMargin

  def bpeTokenIdsOracle(nMerges: Int): String =
    s"""WITH ${bpeLevels(nMerges)},
       |${bpeVocabCtes(nMerges)},
       |docw AS (
       |  SELECT doc_id, u.i AS wi, u.w AS w FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |      i -> {'i': i, 'w': ws[i]})) AS u
       |    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |          FROM documents WHERE doc_id % 50 = 0))),
       |seq AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wi, j) - 1 AS BIGINT) AS pos,
       |    CAST(tid AS BIGINT) AS tid
       |  FROM docw JOIN wid USING (w))
       |SELECT doc_id, pos, tid FROM seq ORDER BY doc_id, pos""".stripMargin

  /** The q213 oracle: per-document BPE token counts (same derivation as
    * q210), then the single global running sum over doc_id order that the
    * two-level distributed prefix sum must equal exactly.
    */
  def tokenizePackOracle(nMerges: Int, budget: Long): String =
    s"""WITH ${bpeLevels(nMerges)},
       |wordtok AS (
       |  SELECT w, CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS nt
       |  FROM w$nMerges),
       |docw AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |  FROM documents),
       |perdoc AS (
       |  SELECT doc_id, CAST(sum(nt) AS BIGINT) AS n
       |  FROM docw JOIN wordtok USING (w) GROUP BY 1),
       |c AS (SELECT doc_id, n,
       |  sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS pre FROM perdoc),
       |s2 AS (SELECT doc_id, n, CAST(floor(pre / $budget.0) AS INT) AS shard FROM c)
       |SELECT shard, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS tok,
       |  min(doc_id) AS lo, max(doc_id) AS hi
       |FROM s2 GROUP BY shard ORDER BY shard""".stripMargin

  /** The q219 oracle: per-word (token count, id sum) from the shared
    * vocabulary chain, per-document totals, the global running-sum pack,
    * and the pruned per-shard aggregate — `id_mass` re-derives the sum of
    * the very ids the shard files carry.
    */
  /** `minBudget`/`targetShards` replay [[graft.operators.Curation
    * .packShardsAuto]]'s integer budget formula — the corpus-scaled
    * production shape (shard count saturates at targetShards).
    */
  def shardWriteOracle(
      nMerges: Int, minBudget: Long, targetShards: Int, shardLt: Int): String =
    s"""WITH ${bpeLevels(nMerges)},
       |${bpeVocabCtes(nMerges)},
       |widsum AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS nt, CAST(sum(tid) AS BIGINT) AS ws
       |  FROM wid GROUP BY w),
       |docw AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |  FROM documents),
       |perdoc AS (
       |  SELECT doc_id, CAST(sum(nt) AS BIGINT) AS n, CAST(sum(ws) AS BIGINT) AS ids
       |  FROM docw JOIN widsum USING (w) GROUP BY 1),
       |bud AS (SELECT GREATEST($minBudget, (CAST(sum(n) AS BIGINT) + ${targetShards - 1}) // $targetShards) AS b
       |  FROM perdoc),
       |c AS (SELECT doc_id, n, ids,
       |  sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS pre FROM perdoc),
       |s2 AS (SELECT doc_id, n, ids,
       |  CAST(floor(pre / CAST(b AS DOUBLE)) AS INT) AS shard FROM c, bud)
       |SELECT shard, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS tok,
       |  CAST(sum(ids) AS BIGINT) AS id_mass
       |FROM s2 WHERE shard < $shardLt GROUP BY shard ORDER BY shard""".stripMargin

  /** Shared CTE chain: the word census as space-wrapped symbol strings
    * (`w0`, keyed by the word), then per merge level the pair census
    * (`p$i`), the best pair (`b$i`), the merged census (`w$i`) and the
    * vocab row (`m$i`) — MATERIALIZED so the doubly-referenced chain
    * never inlines exponentially.
    */
  private def bpeLevels(nMerges: Int, w0: String = charW0): String = {
    val levels = (1 to nMerges).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT unnest(list_transform(range(1, len(l)),
         |    j -> l[j] || chr(9) || l[j + 1])) AS pr, wf
         |  FROM (SELECT string_split(trim(s), '  ') AS l, wf FROM w${i - 1})
         |  WHERE len(l) >= 2),
         |b$i AS MATERIALIZED (
         |  SELECT pr, CAST(sum(wf) AS BIGINT) AS cnt FROM p$i
         |  GROUP BY pr ORDER BY cnt DESC, pr LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT w, replace(s,
         |    ' ' || split_part(pr, chr(9), 1) || '  ' || split_part(pr, chr(9), 2) || ' ',
         |    ' ' || replace(pr, chr(9), '') || ' ') AS s, wf
         |  FROM w${i - 1}, b$i),
         |m$i AS (
         |  SELECT $i AS rank, split_part(pr, chr(9), 1) AS lhs,
         |    split_part(pr, chr(9), 2) AS rhs, cnt FROM b$i)""".stripMargin
    }
    s"""$w0,
       |${levels.mkString(",\n")}""".stripMargin
  }

  /** The character-level `w0` census (q205 family): lowercased `[a-z0-9]+`
    * words, one space-wrapped character symbol per char.
    */
  private def charW0: String =
    """w0 AS MATERIALIZED (
      |  SELECT w, regexp_replace(w, '(.)', ' \1 ', 'g') AS s, wf FROM (
      |    SELECT w, count(*) AS wf FROM (
      |      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |      FROM documents) GROUP BY w))""".stripMargin

  /** [[graft.operators.TextAnalysis.BytePretokenPattern]] as a DuckDB
    * string literal (the contraction apostrophe doubles; RE2 reads the
    * same escapes Java does for this pattern — no lookahead, explicit
    * whitespace class).
    */
  private def bytePretokenSql: String =
    "''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\r\\f\\x0B\\p{L}\\p{N}]+|[ \\t\\n\\r\\f\\x0B]+"

  /** The documents corpus with deterministic NON-ASCII augmentation — the
    * byte-level entries must prove multi-byte UTF-8 handling and the
    * synthetic corpus is pure ASCII, so both engines append the same
    * accented/symbol/em-dash tails to the same rows.
    */
  private def byteCorpusCte(name: String = "corpus", from: String = "documents"): String =
    s"""$name AS MATERIALIZED (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 4 = 0 THEN ' café №' || CAST(doc_id AS VARCHAR) ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 0 THEN ' naïve—déjà vu' ELSE '' END AS text
       |  FROM $from)""".stripMargin

  /** The byte-level `w0` census: regex pre-tokens (case kept, optional
    * leading space attached), each unrolled to space-wrapped lowercase
    * hex UTF-8-byte symbols.
    */
  private def byteW0: String =
    s"""${byteCorpusCte()},
       |w0 AS MATERIALIZED (
       |  SELECT w, regexp_replace(lower(hex(w)), '(..)', ' \\1 ', 'g') AS s, wf FROM (
       |    SELECT w, count(*) AS wf FROM (
       |      SELECT unnest(regexp_extract_all(text, '$bytePretokenSql')) AS w
       |      FROM corpus) GROUP BY w))""".stripMargin

  /** Production-merge-count entries (q231/q232) train this many merges.
    * (`final val` literal: `defs` initializes before this point in the
    * object body, so anything it reads eagerly must be a compile-time
    * constant or a `def`.)
    */
  final val ProdMerges = 2048

  /** Moduli for the deterministic pseudo-word enrichment: one tail word
    * per modulus per document, `(doc_id · (mᵢ−1)) mod mᵢ` rendered as (mᵢ−1 is coprime to mᵢ, so every residue is reachable — a shared factor would collapse the modulus to one constant word; review-wave finding)
    * letters — distinct-word counts per modulus from 3 to 863, so counts
    * are Zipf-ish (~n/3 repeats down to singletons) and the census carries
    * ~2.2k distinct words at sf0.01 — enough structure to sustain ≥2048
    * merges (the achievable merge count ≈ distinct census words; the raw
    * synthetic corpus has a 31-word vocabulary).
    */
  private def ProdMods = Seq(3, 7, 17, 37, 79, 167, 347, 499, 683, 863)
  private def ProdAlpha = "abcdefghijklmnopqrstuvw" // 23 letters: base-23 digits

  /** The documents corpus with the deterministic VOCABULARY enrichment for
    * the production-merge-count entries: per modulus i, the tail word
    * ` <letter_i>q<3 base-23 letters of (doc_id·(mᵢ−1)) mod mᵢ>` — pure
    * letter runs (the pre-tokenizer keeps them whole), identical
    * construction in Spark and DuckDB ([[richCorpusCte]]).
    */
  def richCorpus(docs: DataFrame): DataFrame = {
    val tails = ProdMods.zipWithIndex.map { case (m, i) =>
      val v = s"((doc_id * ${m - 1}) % $m)"
      s"' ${('a' + i).toChar}q', " +
        s"substr('$ProdAlpha', CAST($v DIV 529 AS INT) + 1, 1), " +
        s"substr('$ProdAlpha', CAST(($v DIV 23) % 23 AS INT) + 1, 1), " +
        s"substr('$ProdAlpha', CAST($v % 23 AS INT) + 1, 1)"
    }
    docs.select(col("doc_id"),
      expr(s"concat(text, ${tails.mkString(", ")})").as("text"))
  }

  /** [[richCorpus]] in DuckDB dialect (`//` integer division). */
  private def richCorpusCte(from: String = "documents"): String = {
    val tails = ProdMods.zipWithIndex.map { case (m, i) =>
      val v = s"((doc_id * ${m - 1}) % $m)"
      s"' ${('a' + i).toChar}q' || substr('$ProdAlpha', $v // 529 + 1, 1) || " +
        s"substr('$ProdAlpha', ($v // 23) % 23 + 1, 1) || " +
        s"substr('$ProdAlpha', $v % 23 + 1, 1)"
    }
    s"""corpus AS MATERIALIZED (
       |  SELECT doc_id, text || ${tails.mkString(" || ")} AS text FROM $from)""".stripMargin
  }

  /** The byte-level `w0` census over the enriched corpus; `minFreq > 1`
    * prunes the singleton tail (the [[graft.operators.TextAnalysis
    * .bpeTrainBytesInMemory]] `minFrequency` replay).
    */
  private def richW0(minFreq: Long = 1L): String = {
    val having = if (minFreq > 1L) s" HAVING count(*) >= $minFreq" else ""
    s"""${richCorpusCte()},
       |w0 AS MATERIALIZED (
       |  SELECT w, regexp_replace(lower(hex(w)), '(..)', ' \\1 ', 'g') AS s, wf FROM (
       |    SELECT w, count(*) AS wf FROM (
       |      SELECT unnest(regexp_extract_all(text, '$bytePretokenSql')) AS w
       |      FROM corpus) GROUP BY w$having))""".stripMargin
  }

  /** The RECURSIVE merge-loop replay (q231/q232): the q225 oracle's
    * per-level chained-CTE machinery needs one MATERIALIZED level per merge
    * — unusable at 2048 levels — so the loop becomes ONE recursive CTE.
    * Each recursion step computes the round's best pair (count DESC,
    * tab-joined pair ASC — the pinned tie-break) as an aggregate over the
    * carried census and applies the same left-to-right `replace`; the
    * recursion stops at `nMerges` or when no pairs remain (`FROM t, b` is
    * empty — exactly the Spark loop's exhaustion). The merge table
    * re-derives per rank from the FULL recursion history (`t` keeps every
    * iteration's census), and `wfin` is the final census for encode
    * oracles. Requires DuckDB ≥ 1.0 (aggregates + multiple references over
    * the recursive table in the recursive term).
    */
  private def bpeRecursionCtes(nMerges: Int, minFreq: Long = 1L): String =
    s"""${richW0(minFreq)},
       |t(it, w, s, wf) AS (
       |  SELECT 0, w, s, wf FROM w0
       |  UNION ALL
       |  SELECT it + 1, w, replace(s, b.pat, b.rep), wf
       |  FROM t, (
       |    SELECT ' ' || split_part(pr, chr(9), 1) || '  ' || split_part(pr, chr(9), 2) || ' ' AS pat,
       |           ' ' || replace(pr, chr(9), '') || ' ' AS rep
       |    FROM (
       |      SELECT unnest(list_transform(range(1, len(l)),
       |        j -> l[j] || chr(9) || l[j + 1])) AS pr, wf AS wf2
       |      FROM (SELECT string_split(trim(s), '  ') AS l, wf FROM t)
       |    ) GROUP BY pr ORDER BY sum(wf2) DESC, pr LIMIT 1
       |  ) b
       |  WHERE it < $nMerges),
       |stop AS (SELECT max(it) AS mi FROM t),
       |allp AS (
       |  SELECT it + 1 AS rank, unnest(list_transform(range(1, len(l)),
       |    j -> l[j] || chr(9) || l[j + 1])) AS pr, wf
       |  FROM (SELECT it, string_split(trim(s), '  ') AS l, wf FROM t WHERE it < $nMerges)),
       |best AS (
       |  SELECT rank, pr, cnt, row_number() OVER (PARTITION BY rank ORDER BY cnt DESC, pr) AS rn
       |  FROM (SELECT rank, pr, CAST(sum(wf) AS BIGINT) AS cnt FROM allp GROUP BY rank, pr)),
       |mergetab AS (
       |  SELECT CAST(rank AS INT) AS rank, split_part(pr, chr(9), 1) AS lhs,
       |    split_part(pr, chr(9), 2) AS rhs, replace(pr, chr(9), '') AS merged, cnt
       |  FROM best, stop WHERE rn = 1 AND rank <= mi),
       |wfin AS (SELECT w, s FROM t, stop WHERE it = mi)""".stripMargin

  /** The q231/q235 oracle: the recursive replay's merge table (`minFreq`
    * prunes the census first — the q235 production-pruning form).
    */
  def bpeTrainProdOracle(nMerges: Int, minFreq: Long = 1L): String =
    s"""WITH RECURSIVE ${bpeRecursionCtes(nMerges, minFreq)}
       |SELECT rank, lhs, rhs, merged, cnt FROM mergetab ORDER BY rank""".stripMargin

  /** The q232 oracle: byte vocabulary (base id = byte value, merge rank r
    * at 255 + r, duplicate surfaces keep the smallest id) over the
    * recursion's final census, reassembled per sampled document — the q226
    * oracle's chain with the recursive replay supplying `wfin`/`mergetab`.
    */
  def bpeProdIdsOracle(nMerges: Int): String =
    s"""WITH RECURSIVE ${bpeRecursionCtes(nMerges)},
       |vocab AS MATERIALIZED (
       |  SELECT tok, MIN(tid) AS tid FROM (
       |    SELECT merged AS tok, 255 + rank AS tid FROM mergetab) GROUP BY tok),
       |syms AS MATERIALIZED (
       |  SELECT w, u.j AS j, u.s AS sym FROM (
       |    SELECT w, unnest(list_transform(range(1, len(l) + 1),
       |      j -> {'j': j, 's': l[j]})) AS u
       |    FROM (SELECT w, string_split(trim(s), '  ') AS l FROM wfin))),
       |wid AS MATERIALIZED (
       |  SELECT sy.w, sy.j,
       |    CASE WHEN length(sy.sym) = 2 THEN ${duckHexByte("sy.sym")}
       |         ELSE v.tid END AS tid
       |  FROM syms sy LEFT JOIN vocab v ON v.tok = sy.sym),
       |docw AS (
       |  SELECT doc_id, u.i AS wi, u.w AS w FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |      i -> {'i': i, 'w': ws[i]})) AS u
       |    FROM (SELECT doc_id, regexp_extract_all(text, '$bytePretokenSql') AS ws
       |          FROM corpus WHERE doc_id % 50 = 0))),
       |seq AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wi, j) - 1 AS BIGINT) AS pos,
       |    CAST(tid AS BIGINT) AS tid
       |  FROM docw JOIN wid USING (w))
       |SELECT doc_id, pos, tid FROM seq ORDER BY doc_id, pos""".stripMargin

  /** The q241 oracle: the full pipeline replay — the recursive merge loop
    * ([[bpeRecursionCtes]]), the byte vocabulary over the final census,
    * EVERY document's id sequence with the per-doc EOS row (256 + trained
    * merge count) in one global running row_number, fixed `seqLen`
    * windows, then [[graft.operators.Curation.packShardsAuto]]'s integer
    * budget formula as a running sum over the example aggregates.
    */
  def tokenizerPipelineOracle(
      nMerges: Int, seqLen: Int, targetShards: Int, minBudget: Long): String =
    s"""WITH RECURSIVE ${bpeRecursionCtes(nMerges)},
       |vocab AS MATERIALIZED (
       |  SELECT tok, MIN(tid) AS tid FROM (
       |    SELECT merged AS tok, 255 + rank AS tid FROM mergetab) GROUP BY tok),
       |syms AS MATERIALIZED (
       |  SELECT w, u.j AS j, u.s AS sym FROM (
       |    SELECT w, unnest(list_transform(range(1, len(l) + 1),
       |      j -> {'j': j, 's': l[j]})) AS u
       |    FROM (SELECT w, string_split(trim(s), '  ') AS l FROM wfin))),
       |wid AS MATERIALIZED (
       |  SELECT sy.w, sy.j,
       |    CASE WHEN length(sy.sym) = 2 THEN ${duckHexByte("sy.sym")}
       |         ELSE v.tid END AS tid
       |  FROM syms sy LEFT JOIN vocab v ON v.tok = sy.sym),
       |mcnt AS (SELECT CAST(count(*) AS BIGINT) AS k FROM mergetab),
       |docw AS (
       |  SELECT doc_id, u.i AS wi, u.w AS w FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |      i -> {'i': i, 'w': ws[i]})) AS u
       |    FROM (SELECT doc_id, regexp_extract_all(text, '$bytePretokenSql') AS ws
       |          FROM corpus))),
       |tk AS (SELECT doc_id, wi, j, tid FROM docw JOIN wid USING (w)),
       |seq AS (
       |  SELECT CAST(row_number() OVER (ORDER BY doc_id, wi, j) - 1 AS BIGINT) AS gpos,
       |    CAST(tid AS BIGINT) AS tid
       |  FROM (
       |    SELECT doc_id, wi, j, tid FROM tk
       |    UNION ALL
       |    SELECT doc_id, 2147483647, 0, 256 + (SELECT k FROM mcnt)
       |    FROM (SELECT DISTINCT doc_id FROM tk))),
       |ex AS (SELECT gpos // $seqLen AS example_id, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(tid) AS BIGINT) AS ids FROM seq GROUP BY 1),
       |bud AS (SELECT GREATEST($minBudget,
       |  (CAST(sum(n) AS BIGINT) + ${targetShards - 1}) // $targetShards) AS b FROM ex),
       |cum AS (SELECT example_id, n, ids,
       |  sum(n) OVER (ORDER BY example_id ROWS UNBOUNDED PRECEDING) - n AS pre FROM ex),
       |s2 AS (SELECT example_id, n, ids,
       |  CAST(floor(pre / CAST(b AS DOUBLE)) AS INT) AS shard FROM cum, bud)
       |SELECT shard, count(*) AS n_examples, CAST(sum(n) AS BIGINT) AS tok,
       |  CAST(sum(ids) AS BIGINT) AS id_mass
       |FROM s2 GROUP BY shard ORDER BY shard""".stripMargin

  /** The q225 oracle: the byte-level merge loop — identical level
    * machinery to q205 over the byte census.
    */
  def bpeTrainBytesOracle(nMerges: Int): String =
    s"""WITH ${bpeLevels(nMerges, byteW0)}
       |SELECT CAST(rank AS INT) AS rank, lhs, rhs, lhs || rhs AS merged, cnt
       |FROM (${(1 to nMerges).map(i => s"SELECT * FROM m$i").mkString("\nUNION ALL ")})
       |ORDER BY rank""".stripMargin

  /** A two-hex-char symbol's byte value, in pure SQL arithmetic (DuckDB
    * has no base-16 `conv`).
    */
  private def duckHexByte(sym: String): String =
    s"(strpos('0123456789abcdef', substr($sym, 1, 1)) - 1) * 16 + " +
      s"strpos('0123456789abcdef', substr($sym, 2, 1)) - 1"

  /** The q226 oracle: re-derive the byte vocabulary (base id = the byte
    * value, merge rank r at 255 + r, duplicate merged surfaces keep the
    * smallest id), segment the final census, reassemble each sampled
    * document's id sequence by (pre-token position, symbol position).
    */
  def bpeByteIdsOracle(nMerges: Int): String =
    s"""WITH ${bpeLevels(nMerges, byteW0)},
       |vocab AS MATERIALIZED (
       |  SELECT tok, MIN(tid) AS tid FROM (
       |    SELECT lhs || rhs AS tok, 255 + rank AS tid
       |    FROM (${(1 to nMerges).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")})
       |  ) GROUP BY tok),
       |syms AS MATERIALIZED (
       |  SELECT w, u.j AS j, u.s AS sym FROM (
       |    SELECT w, unnest(list_transform(range(1, len(l) + 1),
       |      j -> {'j': j, 's': l[j]})) AS u
       |    FROM (SELECT w, string_split(trim(s), '  ') AS l FROM w$nMerges))),
       |wid AS MATERIALIZED (
       |  SELECT sy.w, sy.j,
       |    CASE WHEN length(sy.sym) = 2 THEN ${duckHexByte("sy.sym")}
       |         ELSE v.tid END AS tid
       |  FROM syms sy LEFT JOIN vocab v ON v.tok = sy.sym),
       |docw AS (
       |  SELECT doc_id, u.i AS wi, u.w AS w FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |      i -> {'i': i, 'w': ws[i]})) AS u
       |    FROM (SELECT doc_id, regexp_extract_all(text, '$bytePretokenSql') AS ws
       |          FROM corpus WHERE doc_id % 50 = 0))),
       |seq AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wi, j) - 1 AS BIGINT) AS pos,
       |    CAST(tid AS BIGINT) AS tid
       |  FROM docw JOIN wid USING (w))
       |SELECT doc_id, pos, tid FROM seq ORDER BY doc_id, pos""".stripMargin
}
