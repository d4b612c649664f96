package graft.operators

import graft.functions.GraftFunctions._
import graft.functions.VectorFunctions.{cosineSim, packVector, unpackVector}
import graft.sources.reftable.{Layout, VersionedTable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF index **as a table layout**: the cell assignment [[Similarity.ivfTopK]]
  * recomputes per run is instead persisted once, as the partition column of a
  * versioned reftable — `cell=<cid>/part-*.parquet` — so every later probe is
  * served by the existing listing-pruning machinery with ZERO new read-path
  * code: an `isin` filter over the probed cells plans only those cells'
  * files. At 100 TB that is the difference between "ANN query = one narrow
  * pass over the whole corpus, then probe" and "ANN query = read
  * nprobe/ncells of the corpus, full stop".
  *
  * Vectors are stored packed ([[graft.functions.PackVector]]: 8-byte LE
  * doubles in one `binary` cell) — the reftable readers speak scalar+binary
  * parquet, and the flat buffer is the compact at-rest shape anyway (no
  * parquet LIST nesting). pack∘unpack is value-identity, so probing the
  * index returns bit-identical similarities to the unindexed
  * [[Similarity.ivfTopK]] — q132 oracles exactly that equality.
  *
  * The index is an ordinary versioned table: publishes are atomic pointer
  * swaps, readers pin generations, retention applies, and a stale index is
  * rebuilt by publishing again — index maintenance IS table maintenance.
  */
object IvfIndex {

  /** The centroid codebook lives in a sibling versioned table — the index
    * is self-contained: (data root, codebook root) both derive from `root`.
    */
  def centroidsRoot(root: String): String = root.stripSuffix("/") + "_centroids"

  /** [[buildSq]]'s trained quantization ranges live in a second sibling
    * table (`pos, lo, hi` — d rows), so maintenance re-encodes changed rows
    * with the EXACT params the resident codes were built with: SQ codes are
    * only comparable within one trained range, and re-training on churn
    * would silently mix scales.
    */
  def sqParamsRoot(root: String): String = root.stripSuffix("/") + "_sqparams"

  /** Sidecar recording a [[buildSq]] layout's `metaCols` (name + DDL type,
    * in declaration order) — the layout tracks its OWN metadata schema, so
    * filtered probes and maintenance derive it instead of trusting a
    * hand-authored string that can silently drift from what was built.
    */
  def metaSchemaRoot(root: String): String = root.stripSuffix("/") + "_metaschema"

  private val IndexSchema = "id BIGINT, cell BIGINT, vec BINARY"
  private val CentroidSchema = "cid BIGINT, cv BINARY"

  /** Version-keyed cache of the BOUNDED sidecar round-trips (codebook rows,
    * SQ params, meta schema — each ≤ ncells/d rows by construction). Every
    * probe / admission / maintenance call collects these to the driver
    * anyway (bestCentroidVia, probes broadcast, re-encode params); without
    * the cache one q222-style admission wave re-collected the SAME
    * published codebook 3–4 times (admitAgainst + both cellOf sides). Keyed
    * by the sidecar's RESOLVED version dir — uuid-suffixed, so a key can
    * never alias different content; republished sidecars get a new key.
    * LRU-bounded like the ingest logCache. Metadata only: the cell DATA
    * path still reads through the listing-pruned reftable scan.
    */
  private val sideCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, AnyRef](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, AnyRef]): Boolean =
        size() > 64
    })

  private def cachedSide[T <: AnyRef](root: String)(compute: => T): T =
    VersionedTable.resolve(root) match {
      case None => compute // unpublished: nothing stable to key on
      case Some(cur) =>
        val hit = sideCache.get(cur)
        if (hit != null) hit.asInstanceOf[T]
        else { val v = compute; sideCache.put(cur, v); v }
    }

  /** Assign every corpus row to its nearest centroid and publish the result
    * partitioned by `cell`, plus the codebook. One narrow assignment pass
    * (no Exchange before the partitioned write), one bounded codebook
    * publish. Returns the published data version.
    */
  def build(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, root: String,
      keepVersions: Int = 3): String = {
    val assigned = Similarity.assignCells(corpus, centroids, idCol, vecCol)
      .select(col(idCol).cast("long").as("id"), col("cell"),
        packVector(col(vecCol)).as("vec"))
    // the codebook publish targets a DISJOINT sibling root and reads only
    // the (already-collected-at-plan-build) centroids: overlap it with the
    // corpus-sized data publish instead of serializing two commits
    val cbDone = Overlap("ivf-codebook") {
      VersionedTable.publish(
        centroids.select(col("cid").cast("long").as("cid"), packVector(col("cv")).as("cv")),
        centroidsRoot(root), keepVersions)
    }
    val v = VersionedTable.publish(assigned, root, keepVersions,
      layout = Layout.Partitioned(Seq("cell")))
    cbDone()
    v
  }

  /** The published codebook, unpacked back to (cid, cv array<double>) —
    * served from the version-keyed [[sideCache]] as a local relation: the
    * codebook is bounded (ncells rows) and every consumer collects or
    * broadcasts it anyway, so one reftable read per published version
    * replaces one per reference.
    */
  def readCentroids(spark: SparkSession, root: String): DataFrame = {
    val rows = cachedSide(centroidsRoot(root)) {
      spark.read.format("reftable")
        .option("path", centroidsRoot(root)).option("schema", CentroidSchema).load()
        .select(col("cid"), unpackVector(col("cv")).as("cv"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    }
    import spark.implicits._
    rows.toDF("cid", "cv")
  }

  /** The probed slice of the index for `cells`: reads through the reftable
    * source with the partition filter, so listing pruning plans only those
    * cells' files. Exposed for the pruning spec.
    */
  def readCells(spark: SparkSession, root: String, cells: Seq[Long]): DataFrame =
    spark.read.format("reftable")
      .option("path", root).option("schema", IndexSchema)
      .option("partitionColumns", "cell").load()
      .filter(col("cell").isin(cells: _*))

  /** IVF top-k served from the published layout: probe the `nProbe` nearest
    * cells per query against the stored codebook, read ONLY those cells'
    * partitions, exact re-rank inside them. Result-identical to
    * [[Similarity.ivfTopK]] over the same corpus + centroids.
    *
    * The one driver round-trip collects the probed cell ids — bounded by
    * the codebook size (≤ ncells longs), metadata not data — because
    * listing pruning needs literal partition predicates; a join could not
    * prune the listing.
    */
  def topK(
      spark: SparkSession, root: String, queries: DataFrame,
      k: Int = 10, nProbe: Int = 4): DataFrame = {
    val probes = Similarity.probeCells(queries, readCentroids(spark, root), nProbe)
    val cells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val idx = readCells(spark, root, cells)
      .select(col("id"), col("cell"), unpackVector(col("vec")).as("vec"))
    val wRank = Window.partitionBy("query_id").orderBy(col("sim").desc, col("id"))
    idx.join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("sim", r6(cosineSim(col("qv"), col("vec"))))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("id").as("neighbor_id"), col("sim"))
  }

  /** [[build]] plus SQ8 codes ([[Sq]]) in the layout: each row stores its
    * byte codes NEXT TO the packed vector, so a probe's scan set is the
    * 4×-compressed codes column (parquet column pruning — the declared
    * codes schema simply omits `vec`) and full vectors are read only for
    * the exact re-rank. This is the compression the corpus-wide
    * [[Sq.adcTopK]] scan lacks a layout for: at 100 TB the ADC pass reads
    * nprobe/ncells of a d-BYTE column instead of the whole d-double corpus.
    */
  /** `metaCols` (round 20): corpus metadata columns (lang, license,
    * tenant, …) copied INTO the layout next to the codes, so a filtered
    * probe ([[sqTopKFiltered]]) can push its predicate through the
    * reftable source into the probed cells' scan — "nearest neighbors
    * among docs with lang='en'" at 100 TB must filter inside the
    * nprobe/ncells slice, not post-filter a corpus-wide candidate set.
    */
  def buildSq(
      corpus: DataFrame, centroids: DataFrame, params: Sq.SqParams,
      idCol: String, vecCol: String, root: String,
      keepVersions: Int = 3, metaCols: Seq[String] = Nil): String = {
    // Fail LOUDLY on unencodable vectors (null, dim-mismatched, or with a
    // null element slot — Sq.codes yields NULL codes for all three): a
    // silently-null codes row would appear in [[topK]] results but never
    // in [[sqTopK]]'s ADC path (which filters null codes), an asymmetry
    // that surfaces only as missing neighbors. Guarding on the ENCODE
    // RESULT covers every unencodable shape in one place; rejecting at
    // build time keeps the two probe paths answer-equivalent over the
    // same layout.
    val vcast = col(vecCol).cast("array<double>")
    val sqCol = sqOrRaise(vcast, params,
      lit(s"IvfIndex.buildSq: vector at $idCol="), col(idCol).cast("string"))
    val assigned = Similarity.assignCells(corpus, centroids, idCol, vecCol, carry = metaCols)
      .select(col(idCol).cast("long").as("id") +: col("cell") +:
        metaCols.map(col) :+ packVector(col(vecCol)).as("vec") :+ sqCol.as("sq"): _*)
    val spark = corpus.sparkSession
    import spark.implicits._
    // the three sidecar publishes (codebook, trained ranges, meta schema)
    // target DISJOINT sibling roots and depend only on plan-build-time
    // state — overlap them with the corpus-sized data publish instead of
    // serializing four commits
    val cbDone = Overlap("ivfsq-codebook") {
      VersionedTable.publish(
        centroids.select(col("cid").cast("long").as("cid"), packVector(col("cv")).as("cv")),
        centroidsRoot(root), keepVersions)
    }
    // persist the trained ranges: [[updateFromChangesSq]] re-encodes
    // admitted/updated rows with these, never with re-trained ones
    val prmDone = Overlap("ivfsq-params") {
      VersionedTable.publish(
        params.lo.indices.map(i => (i.toLong, params.lo(i), params.hi(i)))
          .toDF("pos", "lo", "hi"),
        sqParamsRoot(root), keepVersions)
    }
    // persist the meta schema NEXT TO the layout (same publish/read
    // mechanism as the ranges): [[sqTopKFiltered]] and
    // [[updateFromChangesSq]] derive it from here, never from a caller
    // string that could drift from what was built
    val metaDone =
      if (metaCols.isEmpty) () => ()
      else {
        val sch = assigned.schema
        Overlap("ivfsq-metaschema") {
          VersionedTable.publish(
            metaCols.zipWithIndex
              .map { case (c, i) => (i.toLong, c, sch(c).dataType.sql) }
              .toDF("pos", "name", "ddl"),
            metaSchemaRoot(root), keepVersions)
        }
      }
    val v = VersionedTable.publish(assigned, root, keepVersions,
      layout = Layout.Partitioned(Seq("cell")))
    cbDone(); prmDone(); metaDone()
    v
  }

  /** SQ codes or a loud build-time failure — NULL codes (null vector,
    * wrong dimension, or a null element slot) become raise_error with the
    * offending row's id, instead of a row that silently vanishes from the
    * ADC probe path.
    */
  private def sqOrRaise(
      vcast: Column, params: Sq.SqParams, msgPrefix: Column, idStr: Column): Column = {
    val raw = Sq.codes(vcast, params)
    when(raw.isNotNull, raw)
      .otherwise(raise_error(concat(msgPrefix, idStr,
        lit(s" is null, not dim ${params.dim}, or has a null element — it would " +
          "get null SQ codes and silently vanish from the ADC probe path")))
        .cast("binary"))
  }

  /** The published `metaCols` schema of a [[buildSq]] layout, in
    * declaration order — empty for layouts built without metadata.
    */
  def readMetaSchema(spark: SparkSession, root: String): Seq[(String, String)] =
    if (VersionedTable.resolve(metaSchemaRoot(root)).isEmpty) Nil
    else cachedSide(metaSchemaRoot(root)) {
      spark.read.format("reftable")
        .option("path", metaSchemaRoot(root))
        .option("schema", "pos BIGINT, name STRING, ddl STRING").load()
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).map(t => (t._2, t._3)).toSeq
    }

  /** The published quantization ranges, reassembled — a bounded (d-row)
    * driver round-trip, like the codebook collects the probes make.
    */
  def readSqParams(spark: SparkSession, root: String): Sq.SqParams =
    cachedSide(sqParamsRoot(root)) {
      val rows = spark.read.format("reftable")
        .option("path", sqParamsRoot(root))
        .option("schema", "pos BIGINT, lo DOUBLE, hi DOUBLE").load()
        .collect().map(r => (r.getLong(0).toInt, r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1)
      require(rows.nonEmpty, s"no published SQ params under ${sqParamsRoot(root)}")
      Sq.SqParams(rows.map(_._2), rows.map(_._3))
    }

  /** The distinct cell ids `queries` would probe at `nProbe` — the bounded
    * driver round-trip (≤ ncells longs) every layout probe makes so
    * listing pruning gets literal partition predicates. Public so callers
    * and specs can reason about the planned slice.
    */
  def probedCells(
      spark: SparkSession, root: String, queries: DataFrame, nProbe: Int): Seq[Long] =
    Similarity.probeCells(queries, readCentroids(spark, root), nProbe)
      .select("cell").distinct().collect().map(_.getLong(0)).sorted.toSeq

  /** The probed cells' CODES only — the declared schema omits `vec`, so
    * the packed vectors never leave the files for the ADC scan.
    */
  def readCellCodes(spark: SparkSession, root: String, cells: Seq[Long],
      metaDdl: String = ""): DataFrame = {
    val meta = if (metaDdl.isEmpty) "" else s", $metaDdl"
    spark.read.format("reftable")
      .option("path", root).option("schema", s"id BIGINT, cell BIGINT$meta, sq BINARY")
      .option("partitionColumns", "cell").load()
      .filter(col("cell").isin(cells: _*))
  }

  /** SQ8 ADC top-k served from a [[buildSq]] layout: probe the nearest
    * cells, scan ONLY those cells' codes column (listing pruning × column
    * pruning), take top-(k·refine) per query by reconstructed cosine, then
    * the exact re-rank reads the probed cells' full vectors for just the
    * survivors. With `nProbe` ≥ ncells and `refine` past the corpus size
    * this degenerates to the brute-force result — the exact-limit oracle
    * that proves the plumbing; at production settings the scan set is the
    * 4×-compressed codes of nprobe/ncells of the corpus.
    */
  def sqTopK(
      spark: SparkSession, root: String, queries: DataFrame, params: Sq.SqParams,
      k: Int = 10, nProbe: Int = 4, refine: Int = 4): DataFrame =
    sqTopKImpl(spark, root, queries, params, k, nProbe, refine, meta = None)

  /** [[sqTopK]] with a METADATA PREDICATE composed into the probed-cell
    * codes scan (round 20) — the "nearest neighbors among docs with
    * lang='en'" query over a [[buildSq]] layout built with `metaCols`.
    * The predicate filters the 4×-compressed ADC scan itself: it pushes
    * through the reftable source to parquet row-group/page skipping
    * (and stays a residual for exactness), so at 100 TB the scan set is
    * the MATCHING rows of nprobe/ncells of the codes column — never a
    * corpus-wide candidate set post-filtered, and never a k' >> k
    * over-fetch-then-drop. The exact re-rank reads full vectors for the
    * ADC survivors only (already predicate-scoped, so the re-rank needs
    * no second filter).
    *
    * Recall semantics: cell scoping is unchanged (the SemDeDup trade);
    * REFINE interacts with selectivity — the ADC window is k·refine over
    * the FILTERED candidates, so a highly-selective predicate needs no
    * larger refine than the unfiltered probe (spec-pinned; with nProbe ≥
    * ncells and refine past the corpus this degenerates to the exact
    * filtered brute force, which q240 oracles).
    */
  def sqTopKFiltered(
      spark: SparkSession, root: String, queries: DataFrame, params: Sq.SqParams,
      predicate: Column,
      k: Int = 10, nProbe: Int = 4, refine: Int = 4): DataFrame = {
    // the meta DDL comes from the layout's own sidecar — a hand-authored
    // string could declare a wrong type (all-null decode dropping every
    // candidate) or a stale column list after a rebuild
    val metaDdl = readMetaSchema(spark, root)
      .map { case (n, t) => s"$n $t" }.mkString(", ")
    require(metaDdl.nonEmpty,
      s"sqTopKFiltered: layout at $root was built without metaCols — " +
        "no metadata to filter on (rebuild with buildSq(..., metaCols = ...))")
    sqTopKImpl(spark, root, queries, params, k, nProbe, refine,
      meta = Some((metaDdl, predicate)))
  }

  private def sqTopKImpl(
      spark: SparkSession, root: String, queries: DataFrame, params: Sq.SqParams,
      k: Int, nProbe: Int, refine: Int, meta: Option[(String, Column)]): DataFrame = {
    val bp = spark.sparkContext.broadcast(params)
    val q = queries.select(col("query_id"), col("qv").cast("array<double>").as("qv"))
      .filter(col("qv").isNotNull && size(col("qv")) === params.dim)
    val probes = Similarity.probeCells(q, readCentroids(spark, root), nProbe)
    val cells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val wAdc = Window.partitionBy("query_id").orderBy(col("ad").desc, col("id"))
    // [[buildSq]] rejects unencodable vectors at build time, so for its
    // layouts this filter is a no-op kept only as defense against
    // hand-assembled codes tables — the two probe paths ([[topK]] /
    // [[sqTopK]]) see the same row set over the same layout.
    val codes = readCellCodes(spark, root, cells, meta.map(_._1).getOrElse(""))
    val scoped = meta.fold(codes) { case (_, pred) => codes.filter(pred) }
    val cands = scoped
      .filter(col("sq").isNotNull)
      .join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("ad", Sq.adcUdf(bp)(col("qv"), col("sq")))
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= k.toLong * refine)
      .select(col("query_id"), col("qv"), col("id"))
    val vecs = readCells(spark, root, cells)
      .select(col("id"), unpackVector(col("vec")).as("__v"))
    Similarity.rerank(cands, vecs, "id", "__v", k)
  }

  /** SEMANTIC ADMISSION served by the layout: check a new batch for
    * embedding near-dups against the published index, reading ONLY the
    * probed cells' partitions. The SRP admission gate
    * ([[Similarity.nearDupAgainstEmbed]]) still reads the whole corpus once
    * per wave to build its signature index; here the corpus-side work was
    * paid at [[build]] time, so a wave costs one narrow batch→cell
    * assignment (broadcast codebook), a listing-pruned read of
    * O(probed cells) files, and a batch×cell-members join — at 100 TB the
    * daily-ingest admission loop touches nprobe/ncells of the corpus, not
    * all of it. Recall is cell-scoped by construction (the SemDeDup trade:
    * a near-dup outside every probed cell is missed); `nProbe` and the
    * codebook granularity set that dial. Returns
    * (batch_id, corpus_id, sim) with r6 cosine ≥ `threshold` — pairs are
    * unique because a corpus row lives in exactly one cell.
    */
  def admitAgainst(
      spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      nProbe: Int = 2): DataFrame = {
    val q = batch.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val probes = Similarity.probeCells(q, readCentroids(spark, root), nProbe)
    // one bounded driver round-trip (≤ ncells longs) so listing pruning
    // gets literal partition predicates — same trade as [[topK]]
    val cells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    readCells(spark, root, cells)
      .select(col("id"), col("cell"), unpackVector(col("vec")).as("__vc"))
      .join(broadcast(probes), Seq("cell"))
      .withColumn("sim", r6(cosineSim(col("qv"), col("__vc"))))
      .filter(col("sim") >= threshold)
      .select(col("query_id").as("batch_id"), col("id").as("corpus_id"), col("sim"))
  }

  /** O(changes) index maintenance: given a corpus BOTH-IMAGES changefeed
    * (`id`, `vec_before`, `vec_after` packed binary, `change_type` — the
    * [[VersionedTable.changesImages]] shape over a packed-vector corpus),
    * assign the changed vectors to cells against the PUBLISHED codebook
    * and merge into the partitioned index. The before-image gives each
    * delete/update its OLD cell without reading the index, so the merge
    * key is (cell, id) — cell moves become delete-at-old + insert-at-new —
    * and the mutation layer's partition-keyed pruning rewrites ONLY the
    * touched cells' may-match files. Work scales with the batch: one
    * narrow assignment pass over O(changes) rows + a COW merge over
    * O(affected cells' files); the corpus, the index's other cells, and
    * the unchanged rows are never read. This is how the ANN index follows
    * a daily-ingest corpus at 100 TB without rebuilds; re-training the
    * codebook itself (centroid drift) remains a [[build]]-shaped publish.
    */
  def updateFromChanges(
      spark: SparkSession, root: String, changes: DataFrame,
      keepVersions: Int = 3): String =
    updateFromChangesImpl(spark, root, changes, keepVersions, sqParams = None)

  /** [[updateFromChanges]] over a [[buildSq]] layout: the merged upserts
    * additionally carry freshly-encoded SQ codes, computed with the
    * PUBLISHED quantization ranges ([[sqParamsRoot]]) — the params the
    * resident codes were built with, so the maintained codes column stays
    * bit-equal to a full [[buildSq]] rebuild over the churned corpus
    * (spec-asserted, and q233 oracles it end to end). Work is unchanged
    * from the plain path: one narrow O(changes) assignment+encode pass plus
    * the COW merge over the touched cells' files — an admitted wave
    * re-encodes only its own rows, never the index. Unencodable new vectors
    * fail loudly, exactly like [[buildSq]]. Over a `metaCols` layout the
    * change batch must carry each upserted row's metadata values (same
    * column names, after-image) — checked loudly up front.
    */
  def updateFromChangesSq(
      spark: SparkSession, root: String, changes: DataFrame,
      keepVersions: Int = 3): String =
    updateFromChangesImpl(spark, root, changes, keepVersions,
      sqParams = Some(readSqParams(spark, root)))

  private def updateFromChangesImpl(
      spark: SparkSession, root: String, changes: DataFrame,
      keepVersions: Int, sqParams: Option[Sq.SqParams]): String = {
    val cent = readCentroids(spark, root)
    // a metaCols layout stores metadata next to the codes, and the merge
    // below writes FULL rows — so the change batch must carry each
    // upserted row's (after-image) metadata values. Checked here, loudly:
    // the merge layer's own missing-column failure would surface far from
    // the cause.
    val metaSchema = readMetaSchema(spark, root)
    val missingMeta = metaSchema.map(_._1).filterNot(changes.columns.contains)
    require(missingMeta.isEmpty,
      s"updateFromChanges over the metaCols layout at $root: the change batch " +
        s"must carry after-image metadata column(s) [${missingMeta.mkString(", ")}] " +
        "next to vec_before/vec_after")
    val metaVals: Seq[Column] = metaSchema.map { case (n, _) => col(n) }
    val metaNulls: Seq[Column] = metaSchema.map { case (n, t) => lit(null).cast(t).as(n) }
    def cellOf(packed: String, tmp: String): Column =
      when(col(packed).isNull, lit(null).cast("long"))
        .otherwise(Similarity.bestCentroidVia(cent, tmp, literal = None)("cid"))
    // compute the O(changes) assignment pass ONCE: the removals and
    // upserts branches below (and the merge layer's several source
    // evaluations) would otherwise each re-run the centroid-assignment
    // joins over the change batch
    val withCells = Dedup.oncePerQuery(changes
      .withColumn("__ov", unpackVector(col("vec_before")))
      .withColumn("__nv", unpackVector(col("vec_after")))
      .withColumn("__oldcell", cellOf("vec_before", "__ov"))
      .withColumn("__newcell", cellOf("vec_after", "__nv")))
    // composite-key change rows: a row whose vector moved cells leaves the
    // old partition and enters the new one
    val sqOf: Seq[Column] = sqParams.toSeq.map { p =>
      sqOrRaise(col("__nv"), p,
        lit("IvfIndex.updateFromChangesSq: changed vector at id="),
        col("id").cast("string")).as("sq")
    }
    val sqNull = sqParams.toSeq.map(_ => lit(null).cast("binary").as("sq"))
    val removals = withCells
      .filter(col("change_type") === "delete" ||
        (col("change_type") === "update" && col("__oldcell") =!= col("__newcell")))
      .select(Seq(lit("delete").as("change_type"),
        col("__oldcell").as("cell"), col("id")) ++ metaNulls ++
        Seq(col("vec_before").as("vec")) ++ sqNull: _*)
    val upserts = withCells
      .filter(col("change_type") =!= "delete")
      .select(Seq(lit("update").as("change_type"),
        col("__newcell").as("cell"), col("id")) ++ metaVals ++
        Seq(col("vec_after").as("vec")) ++ sqOf: _*)
    graft.sources.reftable.RefTableMutations.applyChanges(
      spark, root, removals.unionAll(upserts), Seq("cell", "id"), keepVersions,
      partitionColumns = Seq("cell"),
      partitionTypes = Map("cell" -> org.apache.spark.sql.types.LongType))
  }
}
