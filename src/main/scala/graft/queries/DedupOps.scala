package graft.queries

import graft.QueryDef
import graft.functions.GraftFunctions._
import graft.functions.HashFunctions._
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2c Q13 + north-star extensions):
  * exact hash-dedup, MinHash+LSH near-dup, SimHash, exact n-gram Jaccard.
  *
  * Scale design (the 100 TB story):
  *  - exact dedup is one hash-partitioned groupBy on the content hash;
  *  - MinHash signatures are computed in a single narrow pass per document
  *    (custom `MinHashSignature` expression — no per-permutation explode), and
  *    the only wide exchange is the band-bucket self-join, whose fan-out is
  *    bounded by bucket sizes (salt/band-count are the tuning knobs);
  *  - candidate verification joins only LSH candidates, never all pairs.
  *
  * Oracle parity: every hash is the portable md5-based hash60 (GraftHash), so
  * DuckDB reproduces signatures and simhashes bit-for-bit.
  */
object DedupOps {
  import RelationalSupport.t

  private val P = 1000000007L
  val NumPerms = 128
  val NumBands = 64 // 2 rows per band -> P(miss | J=0.7) = (1-0.49)^64 ~ 2e-19

  /** DuckDB CTEs: distinct word-3-shingles per doc (string form `sh` and
    * hashed form `hsh` — joins run on the 60-bit hash, not the string, to
    * keep exchange payloads narrow) + set sizes.
    */
  val ShingleCtes: String =
    """toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, s FROM (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) s FROM toks)),
      |hsh AS (SELECT DISTINCT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) h FROM sh),
      |sizes AS (SELECT doc_id, count(*) n FROM hsh GROUP BY 1)""".stripMargin

  /** Same CTE chain over an arbitrary source relation. */
  def shingleCtes(src: String): String = ShingleCtes.replace("FROM documents", s"FROM $src")

  /** Exact-Jaccard pair SQL over the hashed shingle CTEs at a threshold. */
  def exactJaccardSql(threshold: Double): String =
    s"""WITH $ShingleCtes,
       |inter AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) i
       |  FROM hsh a JOIN hsh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT a_id, b_id, round(i * 1.0 / (sa.n + sb.n - i), 4) AS j
       |FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
       |WHERE i * 1.0 / (sa.n + sb.n - i) >= $threshold ORDER BY a_id, b_id""".stripMargin

  /** DuckDB simhash-per-doc select (doc_id, simhash), no ORDER BY. */
  val SimhashSql: String =
    """simhash_t AS (
      |  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash FROM (
      |    SELECT doc_id, b, sum(CASE WHEN ((h >> b) & 1) = 1 THEN c ELSE -c END) s FROM (
      |      SELECT doc_id, c, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) h FROM (
      |        SELECT doc_id, w, count(*) c FROM (
      |          SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) w FROM documents) GROUP BY 1, 2))
      |    CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) GROUP BY 1, 2)
      |  GROUP BY doc_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // exact dedup: latest-wins-per-content-hash; one shuffle on the hash.
    QueryDef("q13_dedup_exact", (s, dir) => {
      graft.operators.Dedup.exactByContent(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("content_hash", "text_hash")
        .orderBy("text_hash")
    }, Some(
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin)),

    // full MinHash signature dump — byte-exact oracle for the signature kernel.
    // posexplode skips null signatures, so no isNotNull filter (which would
    // make predicate pushdown duplicate the expensive signature expression).
    QueryDef("q42_minhash_sig", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(minhashSig(tokens(col("text")), 3, NumPerms)).as(Seq("perm", "minhash")))
        .orderBy("doc_id", "perm")
    }, Some(
      s"""WITH $ShingleCtes,
         |hs AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % $P AS h FROM sh),
         |sig AS (SELECT doc_id, i, min(((2*i + 1) * h + (i * 2654435761) % $P) % $P) m
         |  FROM hs CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms - 1})) AS i) GROUP BY 1, 2)
         |SELECT doc_id, CAST(i AS INTEGER) AS perm, CAST(m AS BIGINT) AS minhash
         |FROM sig ORDER BY doc_id, perm""".stripMargin)),

    // MinHash-LSH near-dup pairs, exact-Jaccard-verified at J >= 0.7.
    QueryDef("q17_minhash_lsh", (s, dir) => {
      graft.operators.Dedup.minHashLsh(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.7, k = 3, numBands = NumBands)
        .orderBy("a_id", "b_id")
    }, Some(exactJaccardSql(0.7))),

    // Incremental dedup admission: a candidate batch (held-out docs plus
    // planted perturbed copies of corpus docs) is near-dup checked AGAINST
    // the existing corpus — strictly cross-set, never a corpus self-join.
    // The oracle recomputes the exact cross-set Jaccard pairs, so a hash
    // match proves the LSH admission found every planted copy.
    QueryDef("q121_incremental_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .unionAll(docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 7 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" the end")).as("text"),
            col("lang"), col("source"), col("n_chars")))
      graft.operators.Dedup.nearDupAgainst(base, batch, "doc_id", "text",
        threshold = 0.7, k = 3, numBands = NumBands)
        .orderBy("batch_id", "corpus_id")
    }, Some(
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
         |cand AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' the end' FROM documents
         |  WHERE doc_id % 3 <> 0 AND doc_id % 7 = 1),
         |uni AS (SELECT doc_id, text FROM base UNION ALL SELECT doc_id, text FROM cand),
         |${shingleCtes("uni")},
         |inter AS (SELECT b.doc_id b_id, a.doc_id a_id, count(*) i
         |  FROM hsh b JOIN hsh a ON b.h = a.h
         |  WHERE b.doc_id IN (SELECT doc_id FROM cand)
         |    AND a.doc_id IN (SELECT doc_id FROM base)
         |  GROUP BY 1, 2)
         |SELECT b_id AS batch_id, a_id AS corpus_id,
         |  round(i * 1.0 / (sb.n + sa.n - i), 4) AS j
         |FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
         |WHERE i * 1.0 / (sb.n + sa.n - i) >= 0.7
         |ORDER BY batch_id, corpus_id""".stripMargin)),

    // STREAMING INGEST ∘ ADMISSION DEDUP (round 16): the full composition —
    // waves land through the exactly-once streaming ingest into a STAGING
    // table; each wave's staged delta (version-pinned time-travel diff) is
    // near-dup checked AGAINST the corpus-so-far before admission; dups
    // route to a quarantine pair log, survivors append to the corpus.
    // Planted perturbed copies of corpus docs arrive in BOTH wave 2 and
    // wave 3 — they must never land (and the wave-3 copies must still be
    // caught against the ORIGINALS, not the never-admitted wave-2 copies).
    // The oracle replays the exact cross-set Jaccard admission per wave.
    QueryDef("q208_ingest_admission", (s, dir) => {
      import graft.sources.reftable.{RefTableIngest, RefTableOptions, VersionedTable}
      import org.apache.spark.sql.util.CaseInsensitiveStringMap
      import scala.jdk.CollectionConverters._
      val base = RelationalSupport.scratchDir(s, dir, "q208_adm")
      val conf = graft.sources.reftable.HadoopConf()
      val hfs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
      hfs.delete(new org.apache.hadoop.fs.Path(base), true)
      val (stagingRoot, corpusRoot, landing) =
        (s"$base/staging", s"$base/corpus", s"$base/landing")
      val ddl = "doc_id BIGINT, text STRING"
      val opts = RefTableOptions.from(new CaseInsensitiveStringMap(
        Map("path" -> stagingRoot, "schema" -> ddl).asJava))
      // even-id half of the corpus: the composition exercises every stage
      // at half the ingest/LSH volume (the full corpus is q121's job)
      val docs = t(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 2 === 0)
      val waveA = docs.filter(col("doc_id") % 3 =!= 0)
      val plant = docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 7 === 1)
      val waveB = docs.filter(col("doc_id") % 3 === 0)
        .unionAll(plant.select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" the end")).as("text")))
      val waveC = plant.select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" the end")).as("text"))
      def stagedAt(v: String) = s.read.format("reftable").option("path", stagingRoot)
        .option("schema", ddl).option("version", v).load()
      def corpusAt(v: String) = s.read.format("reftable").option("path", corpusRoot)
        .option("schema", ddl).option("version", v).load()
      def appendTo(root: String, df: org.apache.spark.sql.DataFrame, schema: String): Unit =
        df.write.format("reftable").option("path", root).option("schema", schema)
          .mode("append").save()
      // METADATA row-count poll (RelationalSupport.appendOnlyRowCount): the
      // staging table is plain appends (no deletion vectors), so the poll
      // is a few cached driver-side footer reads instead of a Spark count
      // JOB per poll — it stops competing with the ingest micro-batches
      // for executor slots, and the cadence drops to 25 ms for ~free.
      def scount(): Long =
        RelationalSupport.appendOnlyRowCount(stagingRoot, conf) {
          s.read.format("reftable").option("path", stagingRoot)
            .option("schema", ddl).load().count()
        }
      def await(target: Long): Unit = {
        val t0 = System.nanoTime()
        val end = System.currentTimeMillis() + 60000L
        while (scount() != target && System.currentTimeMillis() < end) Thread.sleep(25)
        graft.BenchProbe.addDrain(System.nanoTime() - t0)
        require(scount() == target, s"ingest stalled: ${scount()} of $target")
      }
      val (nA, nB, nC) = (waveA.count(), waveB.count(), waveC.count())
      def ver(): String = new org.apache.hadoop.fs.Path(
        VersionedTable.resolve(stagingRoot, conf).get).getName
      waveA.coalesce(2).write.mode("append").parquet(landing)
      // 100 ms trigger: the trigger is pure scheduling cadence (idempotence
      // lives in the log protocol) and a no-new-files trigger is now one
      // cached-log pointer read, so a faster tick costs ~nothing and cuts
      // each wave's landing→visible latency
      val q = RefTableIngest.ingestStream(s, opts, landing, triggerMs = 100L)
      val (vA, vB, vC) = try {
        await(nA); val a = ver()
        waveB.coalesce(2).write.mode("append").parquet(landing)
        await(nA + nB); val b = ver()
        waveC.coalesce(1).write.mode("append").parquet(landing)
        await(nA + nB + nC); val c = ver()
        (a, b, c)
      } finally q.stop()
      // wave A seeds the corpus unconditionally (nothing to check against)
      appendTo(corpusRoot, stagedAt(vA), ddl)
      // per-wave admission, corpus PINNED by version so the quarantine and
      // the anti-join recompute against the same snapshot
      val qddl = "batch_id BIGINT, corpus_id BIGINT, j DOUBLE"
      val quarantineRoot = s"$base/quarantine"
      def admit(batch0: org.apache.spark.sql.DataFrame): Unit = {
        // the wave delta is a COMPUTED source (staged-version anti-join)
        // referenced by both LSH kernels AND the survivor anti-join —
        // materialize it once (lazy: the band kernel's first action
        // populates it) instead of re-running the staging diff per pass
        val batch = graft.operators.Materialize.once(batch0)
        val pinned = corpusAt(new org.apache.hadoop.fs.Path(
          VersionedTable.resolve(corpusRoot, conf).get).getName)
        // the LSH pass runs exactly ONCE, into a local checkpoint; the
        // quarantine append writes from it and the admission anti-join
        // derives this wave's dup ids from it — no quarantine read-back
        // (wave id spaces are disjoint, so this wave's own batch_ids are
        // exactly the ids the anti-join needs)
        val pairs = graft.operators.Materialize.once(graft.operators.Dedup.nearDupAgainst(
          pinned, batch, "doc_id", "text", threshold = 0.7, k = 3, numBands = NumBands),
          eager = true)
        // after the pairs checkpoint the two commits are INDEPENDENT
        // (disjoint roots, both reading materialized inputs): overlap the
        // quarantine append with the survivor append instead of running
        // ~5 driver-blocking action groups back to back (guide §2.6)
        val qdone = RelationalSupport.overlap("q208-quarantine") {
          appendTo(quarantineRoot, pairs, qddl)
        }
        val dupIds = pairs.select(col("batch_id")).distinct()
        appendTo(corpusRoot, batch.join(dupIds,
          batch("doc_id") === col("batch_id"), "left_anti"), ddl)
        qdone()
      }
      val batchB = stagedAt(vB).join(stagedAt(vA), Seq("doc_id"), "left_anti")
      admit(batchB)
      val batchC = stagedAt(vC).join(stagedAt(vB), Seq("doc_id"), "left_anti")
      admit(batchC)
      s.read.format("reftable").option("path", quarantineRoot).option("schema", qddl)
        .load().orderBy("batch_id", "corpus_id")
    }, Some(
      s"""WITH half AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |a AS (SELECT doc_id, text FROM half WHERE doc_id % 3 <> 0),
         |b AS (SELECT doc_id, text FROM half WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' the end' FROM half
         |  WHERE doc_id % 3 <> 0 AND doc_id % 7 = 1),
         |c AS (SELECT doc_id + 2000000 AS doc_id, text || ' the end' AS text
         |  FROM half WHERE doc_id % 3 <> 0 AND doc_id % 7 = 1),
         |uni AS (SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c),
         |${shingleCtes("uni")},
         |pairs_b AS (
         |  SELECT bb.doc_id batch_id, aa.doc_id corpus_id, count(*) i
         |  FROM hsh bb JOIN hsh aa ON bb.h = aa.h
         |  WHERE bb.doc_id IN (SELECT doc_id FROM b)
         |    AND aa.doc_id IN (SELECT doc_id FROM a)
         |  GROUP BY 1, 2),
         |qb AS (
         |  SELECT batch_id, corpus_id, round(i * 1.0 / (sb.n + sa.n - i), 4) AS j
         |  FROM pairs_b JOIN sizes sa ON sa.doc_id = corpus_id
         |    JOIN sizes sb ON sb.doc_id = batch_id
         |  WHERE i * 1.0 / (sb.n + sa.n - i) >= 0.7),
         |corpus2 AS (SELECT doc_id FROM a
         |  UNION ALL SELECT doc_id FROM b
         |  WHERE doc_id NOT IN (SELECT batch_id FROM qb)),
         |pairs_c AS (
         |  SELECT cc.doc_id batch_id, k.doc_id corpus_id, count(*) i
         |  FROM hsh cc JOIN hsh k ON cc.h = k.h
         |  WHERE cc.doc_id IN (SELECT doc_id FROM c)
         |    AND k.doc_id IN (SELECT doc_id FROM corpus2)
         |  GROUP BY 1, 2),
         |qc AS (
         |  SELECT batch_id, corpus_id, round(i * 1.0 / (sb.n + sa.n - i), 4) AS j
         |  FROM pairs_c JOIN sizes sa ON sa.doc_id = corpus_id
         |    JOIN sizes sb ON sb.doc_id = batch_id
         |  WHERE i * 1.0 / (sb.n + sa.n - i) >= 0.7)
         |SELECT * FROM (SELECT * FROM qb UNION ALL SELECT * FROM qc)
         |ORDER BY batch_id, corpus_id""".stripMargin)),

    // exact n-gram Jaccard similarity join (lower threshold, no LSH pruning).
    // Joins on the hashed shingle, not the string — narrow exchange payload.
    QueryDef("q43_ngram_jaccard", (s, dir) => {
      graft.operators.Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5, k = 3)
        .orderBy("a_id", "b_id")
    }, Some(exactJaccardSql(0.5))),

    // SimHash fingerprint per document (multiset-weighted, 60-bit).
    QueryDef("q18_simhash", (s, dir) => {
      graft.operators.Dedup.simhash(t(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")
    }, Some(s"WITH $SimhashSql SELECT doc_id, simhash FROM simhash_t ORDER BY doc_id")),

    // end-to-end corpus dedup: exact (min-id survivor per content hash) then
    // MinHash-LSH near-dup removal (higher id of each pair dropped).
    QueryDef("q60_dedup_corpus", (s, dir) => {
      graft.operators.Dedup.dedupCorpus(t(s, dir, "documents"), "doc_id", "text", threshold = 0.7)
        .select("doc_id").orderBy("doc_id")
    }, Some(
      s"""WITH exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |kept AS (SELECT d.* FROM documents d JOIN exact_keep USING (doc_id)),
         |${shingleCtes("kept")},
         |inter AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) i
         |  FROM hsh a JOIN hsh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |losers AS (SELECT DISTINCT b_id FROM inter
         |  JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
         |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.7)
         |SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT b_id FROM losers)
         |ORDER BY doc_id""".stripMargin)),

    // near-dup clustering: connected components over the LSH pair graph,
    // cluster label = min reachable id; oracle = recursive-CTE transitive
    // closure over the exact-Jaccard pairs.
    QueryDef("q64_dedup_clusters", (s, dir) => {
      graft.operators.Dedup.clusterNearDups(t(s, dir, "documents"), "doc_id", "text", threshold = 0.7)
        .orderBy("doc_id")
    }, Some(
      s"""WITH RECURSIVE
         |${ShingleCtes},
         |inter AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) i
         |  FROM hsh a JOIN hsh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |pairs AS (SELECT a_id, b_id FROM inter
         |  JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
         |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.7),
         |edges AS (SELECT a_id u, b_id v FROM pairs UNION ALL SELECT b_id, a_id FROM pairs),
         |walk(u, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, w.label FROM edges e JOIN walk w ON w.u = e.v)
         |SELECT u AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
         |FROM walk GROUP BY u ORDER BY doc_id""".stripMargin)),

    // benchmark contamination: corpus docs sharing any word-8-gram with the
    // benchmark split (doc_id % 50 == 0). The join runs on the portable
    // 60-bit gram hash, so DuckDB reproduces the hits exactly.
    QueryDef("q84_contamination", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.contamination(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }, Some(
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') t FROM documents),
        |g AS (SELECT DISTINCT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) h FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 7),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]||' '||t[i+5]||' '||t[i+6]||' '||t[i+7])) s
        |  FROM toks)),
        |bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 50 = 0),
        |corpus AS (SELECT * FROM g WHERE doc_id % 50 <> 0)
        |SELECT doc_id, count(*) AS n_contaminated
        |FROM corpus JOIN bench USING (h)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // quality-aware dedup: one survivor per near-dup cluster, the longest
    // document (ties -> min id) — survivor selection a real pipeline wants,
    // vs q60's blind min-id. Oracle: the q64 recursive-closure clusters +
    // an argmax by n_chars.
    QueryDef("q85_dedup_keep_best", (s, dir) => {
      graft.operators.Dedup.dedupKeepBest(
        t(s, dir, "documents"), "doc_id", "text", "n_chars", threshold = 0.7)
        .orderBy("doc_id")
    }, Some(
      s"""WITH RECURSIVE
         |${ShingleCtes},
         |inter AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) i
         |  FROM hsh a JOIN hsh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |pairs AS (SELECT a_id, b_id FROM inter
         |  JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
         |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.7),
         |edges AS (SELECT a_id u, b_id v FROM pairs UNION ALL SELECT b_id, a_id FROM pairs),
         |walk(u, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, w.label FROM edges e JOIN walk w ON w.u = e.v),
         |clusters AS (SELECT u AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
         |  FROM walk GROUP BY u),
         |ranked AS (SELECT c.doc_id, c.cluster_id,
         |    row_number() OVER (PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.doc_id ASC) rn
         |  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id)
         |SELECT doc_id, cluster_id FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // exact n-gram CONTAINMENT pairs: the asymmetric near-dup signal (a
    // doc quoted inside a larger one has high containment but low Jaccard
    // — a Jaccard-only gate misses it). Same shared-shingle equi-join as
    // q43: zero-overlap pairs never materialize.
    QueryDef("q106_containment", (s, dir) => {
      graft.operators.Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.6, k = 3)
        .orderBy("a_id", "b_id")
    }, Some(
      s"""WITH $ShingleCtes,
         |inter AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) i
         |  FROM hsh a JOIN hsh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT a_id, b_id, round(i * 1.0 / sa.n, 4) AS c_ab, round(i * 1.0 / sb.n, 4) AS c_ba
         |FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
         |WHERE greatest(i * 1.0 / sa.n, i * 1.0 / sb.n) >= 0.6
         |ORDER BY a_id, b_id""".stripMargin)),

    // near-dup pairs by SimHash Hamming distance <= 10.
    QueryDef("q19_simhash_pairs", (s, dir) => {
      graft.operators.Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 10)
        .orderBy("a_id", "b_id")
    }, Some(
      s"""WITH $SimhashSql
         |SELECT a.doc_id a_id, b.doc_id b_id, CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hd
         |FROM simhash_t a JOIN simhash_t b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 10
         |ORDER BY a_id, b_id""".stripMargin))
  )
}
