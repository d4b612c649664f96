package graft.sources.reftable

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DSv2 `TableCatalog` over a warehouse directory of versioned reftable
  * roots — the full SQL surface for the engine:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[RefTableCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/warehouse")
  *   spark.sql("CREATE NAMESPACE graft.corpus")
  *   spark.sql("CREATE TABLE graft.corpus.docs (doc_id BIGINT, text STRING) USING reftable")
  *   spark.sql("INSERT INTO graft.corpus.docs SELECT ...")
  *   spark.sql("DELETE FROM graft.corpus.docs WHERE doc_id % 100 = 7")
  *   spark.sql("SELECT * FROM graft.corpus.docs VERSION AS OF 'v...'")
  * }}}
  *
  * Layout: `<warehouse>/<namespace...>/<table>/` is a versioned table root
  * ([[VersionedTable]]); the table descriptor `_TABLE.json` (schema DDL +
  * reader/writer options) lives beside `_CURRENT`. Identifier path
  * segments are restricted to `[A-Za-z0-9_]` so an identifier can never
  * escape the warehouse or collide with version directories.
  *
  * DELETE FROM routes through [[SupportsDelete]] into the file-granular
  * copy-on-write path ([[RefTableMutations.deleteWhere]]); TRUNCATE
  * publishes an empty version. Time travel uses the version-directory
  * names surfaced by [[VersionedTable.history]].
  */
class RefTableCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog
    with StagingTableCatalog {
  private var catalogName: String = _
  private var warehouse: String = _
  private def conf = HadoopConf()

  override def name(): String = catalogName

  /** DEFAULT column values are supported at CREATE and via ALTER COLUMN
    * SET/DROP DEFAULT — they fill at WRITE time (Spark's INSERT resolution
    * materializes the literal into the written rows), so read paths never
    * consult them. ADD COLUMN with a DEFAULT is refused (existing rows
    * cannot backfill; same contract as Delta).
    */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** ANSI CHECK constraints ride the declared-expectations machinery:
    * `CONSTRAINT c CHECK (pred)` persists as the `expect.c` option, so the
    * SAME gates that enforce `expect.*` on every write surface (batch
    * INSERT, streaming epochs, UPDATE/MERGE/upsert after-images) enforce
    * the SQL-declared constraint — one mechanism, two declaration
    * syntaxes. Keys/uniqueness are declared via the `keyColumns` option
    * (upsert semantics), not PRIMARY KEY/UNIQUE constraints.
    */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val props = new util.HashMap[String, String](info.properties)
    info.constraints.foreach {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        props.put(TableCatalog.OPTION_PREFIX + "expect." + c.name, c.predicateSql)
      case other =>
        throw new UnsupportedOperationException(
          s"reftable: only CHECK constraints are supported (got ${other.toDDL}); " +
            "declare row identity via the 'keyColumns' table option instead")
    }
    // GENERATED ALWAYS AS rides the v2 Column (NOT field metadata — the
    // default Column[]→StructType conversion drops it), so harvest here;
    // identity columns (stateful monotonic allocation) are refused
    info.columns.foreach { c =>
      if (c.identityColumnSpec != null) throw new UnsupportedOperationException(
        s"reftable: identity columns are not supported ('${c.name}'); generate ids in " +
          "the feed (monotonically_increasing_id, uuid) or use a GENERATED ALWAYS AS hash")
    }
    val gen = info.columns.filter(_.generationExpression != null)
    if (gen.nonEmpty) {
      val om = new ObjectMapper()
      val root = om.createObjectNode()
      gen.foreach(c => root.put(c.name, c.generationExpression))
      props.put(TableCatalog.OPTION_PREFIX + "columnGenerated", om.writeValueAsString(root))
    }
    createTable(ident, info.columns, info.partitions, props)
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).filter(_.nonEmpty).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' requires option 'warehouse' (spark.sql.catalog.$name.warehouse)"))
  }

  private def fs = new Path(warehouse).getFileSystem(conf)

  private def checkSegment(s: String): String = {
    if (!s.matches("[A-Za-z0-9_]+"))
      throw new IllegalArgumentException(
        s"invalid identifier segment '$s': only [A-Za-z0-9_] is allowed")
    s
  }

  private def nsPath(ns: Seq[String]): Path =
    ns.map(checkSegment).foldLeft(new Path(warehouse))((p, s) => new Path(p, s))

  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace.toIndexedSeq), checkSegment(ident.name))

  private val Descriptor = "_TABLE.json"

  private def descriptorPath(ident: Identifier): Path =
    new Path(tablePath(ident), Descriptor)

  // ---- tables ---------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace.toIndexedSeq)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(p).toIndexedSeq
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, Descriptor)))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean = fs.exists(descriptorPath(ident))

  private def readDescriptor(
      ident: Identifier): (StructType, Map[String, String], Set[String]) = {
    val dp = descriptorPath(ident)
    if (!fs.exists(dp)) throw new NoSuchTableException(ident)
    val in = fs.open(dp)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val node = new ObjectMapper().readTree(text)
    val schema = StructType.fromDDL(node.path("schema").asText())
    val opts = Option(node.get("options")).map { o =>
      o.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty[String, String])
    val dropped = Option(node.get("droppedColumns")).map { d =>
      d.elements().asScala.map(_.asText()).toSet
    }.getOrElse(Set.empty[String])
    (schema, opts, dropped)
  }

  private def toTable(ident: Identifier, version: Option[String]): Table = {
    val (schema, stored, _) = readDescriptor(ident)
    val base = Map(
      "path" -> tablePath(ident).toString,
      "schema" -> schema.toDDL) ++ stored ++
      version.map("version" -> _).toMap
    new RefTable(RefTableOptions.from(new CaseInsensitiveStringMap(base.asJava)), base)
  }

  override def loadTable(ident: Identifier): Table =
    metadataSuffix(ident) match {
      case Some((base, "changefeed")) => changefeedTable(base)
      case Some((base, kind)) if kind.startsWith("branch$") =>
        branchTable(base, kind.substring("branch$".length))
      case Some((base, kind)) => RefTableMetaTables.load(tablePath(base).toString,
        s"${base.name}$$$kind", kind, conf, exists = tableExists(base), base,
        descriptorOptions = readDescriptor(base)._2)
      case None => toTable(ident, None)
    }

  /** `t$changefeed`: the table under the changefeed READ MODE
    * ([[RefTableChangefeedStream]] — schema + `change_type`, streamed
    * deltas per generation). A metadata-SUFFIX rather than a read option
    * because the mode EXTENDS the schema, and Spark fixes a catalog
    * relation's schema at table resolution, before scan options exist.
    * The merge key comes from the descriptor's `keyColumns` option
    * (declare at CREATE, or ALTER TABLE SET TBLPROPERTIES
    * ('option.keyColumns'='id')).
    */
  /** `t$branch$<name>`: the named writable branch as a FULL table relation
    * (not a LocalScan metadata view) — SELECT, INSERT, UPDATE, DELETE and
    * MERGE all run against the branch through plain SQL, under the same
    * descriptor contract as main (schema, expectations, generated
    * columns). An identifier SUFFIX because branches share main's declared
    * schema but not its data root, and SQL has no per-statement option
    * channel; reads can equivalently use the `branch` per-scan option.
    */
  private def branchTable(ident: Identifier, name: String): Table = {
    if (!name.matches("^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$"))
      throw new IllegalArgumentException(
        s"invalid branch name '$name' in `${ident.name}` (allowed: letters, digits, " +
          "'.', '_', '-'; must start alphanumeric; max 128 chars)")
    val (schema, stored, _) = readDescriptor(ident)
    val root = tablePath(ident).toString
    if (VersionedTable.branchFork(root, name, conf).isEmpty)
      throw new IllegalArgumentException(
        s"table ${ident.toString} has no branch '$name' — " +
          s"CALL system.create_branch(table => '...', name => '$name') forks one")
    val base = Map(
      "path" -> root,
      "schema" -> schema.toDDL) ++ stored + ("branch" -> name)
    new RefTable(RefTableOptions.from(new CaseInsensitiveStringMap(base.asJava)), base)
  }

  private def changefeedTable(ident: Identifier): Table = {
    val (schema, stored, _) = readDescriptor(ident)
    if (!stored.keys.exists(_.equalsIgnoreCase("keyColumns")))
      throw new IllegalArgumentException(
        s"table ${ident.toString} declares no 'keyColumns' option — `$$changefeed` needs " +
          "the merge key for insert/update/delete classification; declare it at CREATE " +
          "(OPTIONS (keyColumns 'id')) or via ALTER TABLE SET TBLPROPERTIES " +
          "('option.keyColumns'='id')")
    val base = Map(
      "path" -> tablePath(ident).toString,
      "schema" -> schema.toDDL) ++ stored + ("changefeed" -> "true")
    new RefTable(RefTableOptions.from(new CaseInsensitiveStringMap(base.asJava)), base)
  }

  /** `t$history` / `t$commits` / `t$files` resolve to driver-computed
    * metadata tables (Iceberg-style), `t$changefeed` to the delta read
    * mode — `$` is refused in plain identifier segments, so the suffix
    * can never collide with a real table.
    */
  private def metadataSuffix(ident: Identifier): Option[(Identifier, String)] = {
    val i = ident.name.indexOf('$')
    if (i <= 0) None
    else {
      val (base, kind) = (ident.name.substring(0, i), ident.name.substring(i + 1))
      if (!RefTableMetaTables.Kinds.contains(kind) && kind != "changefeed" &&
          !kind.startsWith("branch$"))
        throw new IllegalArgumentException(
          s"unknown metadata table '$$${kind}' (supported: " +
            (RefTableMetaTables.Kinds.toSeq.sorted ++
              Seq("changefeed", "branch$<name>")).mkString(", ") + ")")
      Some((Identifier.of(ident.namespace, checkSegment(base)), kind))
    }
  }

  /** `VERSION AS OF '<versionDirName>'` — pin to a retained COMMITTED
    * version: resolution intersects version directories with the commit
    * log, so an orphan dir from a crashed publish (staged and renamed but
    * never committed) can never be pinned — no reader could ever have
    * seen it as current. `VERSION AS OF 'tag:<name>'` pins the tagged
    * version ([[VersionedTable.tag]]) — tags protect their target from
    * retention, so a resolved tag is always a retained committed version.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = tablePath(ident).toString
    val resolved = VersionedTable.resolveSpec(root, version, conf)
    if (!VersionedTable.committedVersionDirs(root, conf).contains(resolved))
      throw new IllegalArgumentException(
        s"table ${ident.toString} has no retained committed version '$resolved' " +
          s"(see VersionedTable.history)")
    toTable(ident, Some(resolved))
  }

  /** `TIMESTAMP AS OF <ts>`: pin to the newest COMMITTED version published
    * at or before the timestamp. Version directory names embed their
    * publish millis, so resolution is a name comparison — no file reads.
    * Spark hands micros since epoch.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = tablePath(ident).toString
    val ms = timestamp / 1000L
    val pick = VersionedTable.resolveAsOf(root, ms, conf)
      .getOrElse(throw new IllegalArgumentException(
        s"table ${ident.toString} has no version at or before timestamp ${ms}ms"))
    toTable(ident, Some(pick))
  }

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val ns = ident.namespace.toIndexedSeq
    if (!fs.exists(nsPath(ns))) throw new NoSuchNamespaceException(ns.toArray)
    if (partitions.nonEmpty)
      throw new UnsupportedOperationException(
        "reftable catalog tables do not take PARTITIONED BY transforms; declare the " +
          "'partitionColumns' table option (Hive layout inside each version) instead")
    // OPTION_PREFIX-prefixed properties become reader/writer options in the
    // descriptor; Spark-reserved props (provider, location, owner...) are not
    val declared = properties.asScala.collect {
      case (k, v) if k.startsWith(TableCatalog.OPTION_PREFIX) =>
        k.substring(TableCatalog.OPTION_PREFIX.length) -> v
    }.toMap
    // DEFAULT / GENERATED ALWAYS AS declarations arrive as field metadata
    // (CURRENT_DEFAULT / EXISTS_DEFAULT / GENERATION_EXPRESSION, validated
    // by Spark's analysis) — persist them as the `columnDefaults` /
    // `columnGenerated` options, since the descriptor's schema DDL drops
    // metadata; RefTableOptions re-attaches them at every load
    val opts = declared ++
      RefTableCatalog.defaultsJson(schema).map("columnDefaults" -> _) ++
      RefTableCatalog.generatedJson(schema).map("columnGenerated" -> _)
    // validate now — a bad option should fail CREATE, not the first read
    val validated = RefTableOptions.from(new CaseInsensitiveStringMap(
      (Map("path" -> tablePath(ident).toString,
        "schema" -> RefTableCatalog.plainDdl(schema)) ++ opts).asJava))
    fs.mkdirs(tablePath(ident))
    // time-retention policy binds from the first commit: root marker now
    validated.retainForMs.foreach(
      VersionedTable.declareRetention(tablePath(ident).toString, _, conf))
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    root.put("schema", RefTableCatalog.plainDdl(schema))
    val on = root.putObject("options")
    opts.foreach { case (k, v) => on.put(k, v) }
    // atomic descriptor claim (put-if-absent through the store's commit
    // primitive): a crashed CREATE leaves no half-written descriptor that
    // poisons loadTable; two racing CREATEs resolve at the claim
    if (!CommitPrimitive.forPath(descriptorPath(ident), conf)
        .putIfAbsent(descriptorPath(ident), om.writeValueAsBytes(root), conf))
      throw new TableAlreadyExistsException(ident)
    loadTable(ident)
  }

  /** `ALTER TABLE`: ADD COLUMN (nullable, top-level, appended — existing
    * files lack it, so the altered descriptor also turns on
    * `allowMissingColumns` and readers null-fill), DROP COLUMN (files keep
    * the bytes; the projection stops reading them), RENAME COLUMN (a
    * DESCRIPTOR-ONLY commit: the schema field renames and a
    * `columnMapping` entry keeps the new logical name resolving to the
    * old files' PHYSICAL column — zero data rewritten, old and new
    * versions alike stay readable; see [[RefTableOptions.storageColumn]]),
    * and SET/UNSET TBLPROPERTIES on `option.`-prefixed keys. Type changes
    * are refused — the files are typed, and silently rewriting types on
    * read is how engines corrupt tables. Renaming a column that a layout
    * option references (partitionColumns, clusterBy, rowField, ...) is
    * refused by the CREATE-grade revalidation below, with the option's
    * own error. The rewritten descriptor is validated exactly like CREATE
    * and lands via tmp + atomic overwrite rename (concurrent ALTERs are
    * last-writer-wins DDL).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val (schema, opts0, dropped0) = readDescriptor(ident)
    var fields = schema.fields.toIndexedSeq
    var opts = opts0
    var dropped = dropped0
    def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(s"reftable ALTER TABLE: $what")
    def mapping: Map[String, String] = opts.get("columnMapping").filter(_.nonEmpty)
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { e =>
        val i = e.indexOf(':'); e.substring(0, i) -> e.substring(i + 1)
      }.toMap).getOrElse(Map.empty)
    def setMapping(m: Map[String, String]): Unit =
      opts = if (m.isEmpty) opts - "columnMapping"
        else opts + ("columnMapping" ->
          m.toSeq.sortBy(_._1).map { case (k, v) => s"$k:$v" }.mkString(","))
    def setDefaultsOpt(j: Option[String]): Unit =
      opts = j match {
        case Some(json) => opts + ("columnDefaults" -> json)
        case None => opts - "columnDefaults"
      }
    changes.foreach {
      case add: TableChange.AddColumn =>
        if (add.fieldNames.length != 1) unsupported("nested ADD COLUMN")
        if (!add.isNullable)
          throw new IllegalArgumentException(
            "added columns must be nullable: rows in existing files have no value for them")
        if (add.position != null) unsupported("ADD COLUMN FIRST/AFTER (columns append)")
        if (add.defaultValue != null)
          throw new IllegalArgumentException(
            "ADD COLUMN with a DEFAULT is not supported: rows in existing files cannot " +
              "backfill the default (they read NULL), which would silently diverge from " +
              "rows inserted afterwards. Add the column, then ALTER TABLE ... ALTER COLUMN " +
              "... SET DEFAULT for future INSERTs.")
        val nm = add.fieldNames.head
        if (fields.exists(_.name == nm))
          throw new IllegalArgumentException(s"column '$nm' already exists")
        // DROP COLUMN only removes the field from the descriptor — files
        // written before the drop still carry the bytes, so re-adding the
        // name would silently RESURRECT stale values for exactly the rows
        // that predate the drop (new rows would read null). The field-ID
        // indirection Delta/Iceberg use is what solves this properly;
        // until versions carry field IDs, refuse the collision.
        // (`dropped` records PHYSICAL names; a fresh column's physical
        // name is its own.)
        if (dropped.contains(nm))
          throw new IllegalArgumentException(
            s"column '$nm' was previously dropped and retained files may still carry its " +
              "old values — re-adding the name would resurrect them for pre-drop rows. " +
              "Dropped names stay retired (the descriptor has no field IDs to tell old " +
              "bytes from new); pick a new column name.")
        // a RENAMED column still reads the physical bytes named `nm`:
        // adding a fresh logical `nm` would alias the same storage column
        if (mapping.values.exists(_ == nm))
          throw new IllegalArgumentException(
            s"physical column '$nm' is claimed by renamed column " +
              s"'${mapping.find(_._2 == nm).get._1}' — pick a different name")
        fields = fields :+ org.apache.spark.sql.types.StructField(nm, add.dataType)
        opts += "allowMissingColumns" -> "true" // older files null-fill it
      case del: TableChange.DeleteColumn =>
        if (del.fieldNames.length != 1) unsupported("nested DROP COLUMN")
        val nm = del.fieldNames.head
        if (!fields.exists(_.name == nm) && !del.ifExists)
          throw new IllegalArgumentException(s"column '$nm' does not exist")
        fields = fields.filterNot(_.name == nm)
        if (fields.isEmpty)
          throw new IllegalArgumentException("cannot drop the last column")
        dropped += mapping.getOrElse(nm, nm) // retire the PHYSICAL name
        setMapping(mapping - nm)
        setDefaultsOpt(RefTableCatalog.removeDefaultsCol(opts.get("columnDefaults"), nm))
      case ut: TableChange.UpdateColumnType =>
        if (ut.fieldNames.length != 1) unsupported("nested ALTER COLUMN TYPE")
        val nm = ut.fieldNames.head
        val f = fields.find(_.name == nm).getOrElse(
          throw new IllegalArgumentException(s"column '$nm' does not exist"))
        // descriptor-only type WIDENING: existing files keep their narrower
        // physical type and both readers widen per file (the columnar path
        // through a widening vector view, the row path at decode); new
        // writes land at the declared width. Only conversions that are
        // lossless for every representable value are accepted — anything
        // else would silently mis-read typed bytes
        import org.apache.spark.sql.types._
        val ok = (f.dataType, ut.newDataType) match {
          case (ByteType, ShortType | IntegerType | LongType) => true
          case (ShortType, IntegerType | LongType) => true
          case (IntegerType, LongType) => true
          case (FloatType, DoubleType) => true
          case _ => false
        }
        if (!ok) unsupported(
          s"ALTER COLUMN TYPE ${f.dataType.simpleString} -> ${ut.newDataType.simpleString}: " +
            "only lossless widenings (byte/short/int -> a wider integer, float -> double) " +
            "can re-read existing files safely")
        fields = fields.map(x => if (x.name == nm) x.copy(dataType = ut.newDataType) else x)
      case rn: TableChange.RenameColumn =>
        if (rn.fieldNames.length != 1) unsupported("nested RENAME COLUMN")
        val nm = rn.fieldNames.head
        val nw = rn.newName
        if (!fields.exists(_.name == nm))
          throw new IllegalArgumentException(s"column '$nm' does not exist")
        if (fields.exists(_.name == nw))
          throw new IllegalArgumentException(s"column '$nw' already exists")
        // descriptor-only: the physical name rides along under the new
        // logical name; renaming back to the physical drops the entry
        val physical = mapping.getOrElse(nm, nm)
        val m2 = mapping - nm
        setMapping(if (physical == nw) m2 else m2 + (nw -> physical))
        fields = fields.map(f => if (f.name == nm) f.copy(name = nw) else f)
        setDefaultsOpt(RefTableCatalog.renameDefaultsCol(opts.get("columnDefaults"), nm, nw))
      // ALTER TABLE ADD/DROP CONSTRAINT: CHECK constraints are declared
      // expectations (`expect.<name>`), enforced by every write surface
      // from the moment they land; Spark itself audits EXISTING rows
      // before sending the change (AddCheckConstraintExec scans through
      // this source and refuses a violated ADD)
      case ac: TableChange.AddConstraint =>
        ac.constraint match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            if (opts.contains("expect." + c.name))
              throw new IllegalArgumentException(s"constraint '${c.name}' already exists")
            opts += ("expect." + c.name) -> c.predicateSql
          case other => unsupported(
            s"constraint ${other.toDDL} (only CHECK constraints are supported; " +
              "declare row identity via the 'keyColumns' table option)")
        }
      case dc: TableChange.DropConstraint =>
        if (!opts.contains("expect." + dc.name) && !dc.ifExists)
          throw new IllegalArgumentException(s"constraint '${dc.name}' does not exist")
        opts -= ("expect." + dc.name)
      // ALTER COLUMN SET/DROP DEFAULT: future INSERTs only — existing
      // rows are already materialized, so nothing re-reads
      case ud: TableChange.UpdateColumnDefaultValue =>
        if (ud.fieldNames.length != 1) unsupported("nested ALTER COLUMN DEFAULT")
        val nm = ud.fieldNames.head
        if (!fields.exists(_.name == nm))
          throw new IllegalArgumentException(s"column '$nm' does not exist")
        val sql = Option(ud.newCurrentDefault()).map(_.getSql)
          .filter(s => s != null && s.nonEmpty)
        setDefaultsOpt(RefTableCatalog.updateDefaultsJson(opts.get("columnDefaults"), nm, sql))
      case sp: TableChange.SetProperty =>
        if (!sp.property.startsWith(TableCatalog.OPTION_PREFIX))
          unsupported(s"property '${sp.property}' (only '${TableCatalog.OPTION_PREFIX}*' " +
            "reader/writer options are stored)")
        opts += sp.property.substring(TableCatalog.OPTION_PREFIX.length) -> sp.value
      case rp: TableChange.RemoveProperty =>
        if (!rp.property.startsWith(TableCatalog.OPTION_PREFIX))
          unsupported(s"property '${rp.property}'")
        opts -= rp.property.substring(TableCatalog.OPTION_PREFIX.length)
      case other => unsupported(
        s"${other.getClass.getSimpleName} (type changes would silently mis-read " +
          "the typed columns in existing files)")
    }
    val newSchema = StructType(fields)
    // validate like CREATE — a bad alteration fails here, not at first read
    val validated = RefTableOptions.from(new CaseInsensitiveStringMap(
      (Map("path" -> tablePath(ident).toString, "schema" -> newSchema.toDDL) ++ opts).asJava))
    // sync the root time-retention marker with the (possibly ALTERed)
    // declaration — removal deletes it, so pruning reverts to count-only
    validated.retainForMs match {
      case Some(ms) => VersionedTable.declareRetention(tablePath(ident).toString, ms, conf)
      case None =>
        val rp = new Path(tablePath(ident), VersionedTable.RetentionDecl)
        if (fs.exists(rp)) fs.delete(rp, false)
    }
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    root.put("schema", newSchema.toDDL)
    val on = root.putObject("options")
    opts.foreach { case (k, v) => on.put(k, v) }
    if (dropped.nonEmpty) {
      val dn = root.putArray("droppedColumns")
      dropped.toSeq.sorted.foreach(dn.add)
    }
    // replace through the store's commit primitive: readers never see a
    // half-written descriptor, on rename-capable and object stores alike
    val dp = descriptorPath(ident)
    CommitPrimitive.forPath(dp, conf).overwrite(dp, om.writeValueAsBytes(root), conf)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && {
      val dropped = fs.delete(tablePath(ident), true)
      // sibling logs the table accumulated (quarantine rejects, ingest
      // log) die with it — unless the sibling name is a REAL table of its
      // own (it has a descriptor), which is never touched
      if (dropped) Seq("__quarantine", "__ingest").foreach { suffix =>
        val sib = Identifier.of(ident.namespace, ident.name + suffix)
        val p = new Path(tablePath(ident).toString + suffix)
        if (!tableExists(sib) && fs.exists(p)) fs.delete(p, true)
      }
      dropped
    }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) -----------------------------
  //
  // CREATE [OR REPLACE] TABLE ... AS SELECT without the drop-then-create
  // window: the SELECT writes into an ignored `.rtas-<uuid>/` staging dir
  // inside the table root; commitStagedChanges adopts those files as a
  // FULL version under the CAS and only then claims/overwrites the
  // descriptor. A crash or failed query leaves the previous table fully
  // intact (abort deletes the staging dir); concurrent readers never see
  // a missing table. Ordering: CREATE claims the descriptor FIRST (the
  // existence gate — a racing CREATE loses the put-if-absent), REPLACE
  // publishes the data version FIRST and swaps the descriptor last, so
  // the old descriptor stays valid over a consistent table throughout
  // (a schema-changing REPLACE has a brief old-schema-over-new-data
  // window; readers null-fill, and the swap is one rename).

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    stage(ident, schema, partitions, properties, replace = false, orCreate = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stage(ident, schema, partitions, properties, replace = true, orCreate = false)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replace = true, orCreate = true)

  private def stage(ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String], replace: Boolean, orCreate: Boolean)
      : StagedTable = {
    val ns = ident.namespace.toIndexedSeq
    if (!fs.exists(nsPath(ns))) throw new NoSuchNamespaceException(ns.toArray)
    if (partitions.nonEmpty)
      throw new UnsupportedOperationException(
        "reftable catalog tables do not take PARTITIONED BY transforms; declare the " +
          "'partitionColumns' table option (Hive layout inside each version) instead")
    val declared = properties.asScala.collect {
      case (k, v) if k.startsWith(TableCatalog.OPTION_PREFIX) =>
        k.substring(TableCatalog.OPTION_PREFIX.length) -> v
    }.toMap
    // CTAS/RTAS column DEFAULTs / GENERATED columns persist like createTable's
    val stagedOpts = declared ++
      RefTableCatalog.defaultsJson(schema).map("columnDefaults" -> _) ++
      RefTableCatalog.generatedJson(schema).map("columnGenerated" -> _)
    // validate now — a bad option must fail the statement before the
    // SELECT runs, exactly like createTable
    val opts = RefTableOptions.from(new CaseInsensitiveStringMap(
      (Map("path" -> tablePath(ident).toString,
        "schema" -> RefTableCatalog.plainDdl(schema))
        ++ stagedOpts).asJava))
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    root.put("schema", RefTableCatalog.plainDdl(schema))
    val on = root.putObject("options")
    stagedOpts.foreach { case (k, v) => on.put(k, v) }
    new StagedRefTable(ident, opts, om.writeValueAsBytes(root), replace, orCreate)
  }

  /** The staged side of an atomic CTAS/RTAS. Spark writes the SELECT
    * through the V1 fallback into `.rtas-<uuid>/` under the table root
    * (descriptor untouched), then calls [[commitStagedChanges]].
    */
  private class StagedRefTable(ident: Identifier, opts: RefTableOptions,
      descriptor: Array[Byte], replace: Boolean, orCreate: Boolean)
      extends StagedTable with SupportsWrite {
    private val rootPath = tablePath(ident)
    private val rtasDir = new Path(rootPath, ".rtas-" + java.util.UUID.randomUUID())

    override def name(): String = ident.toString
    override def schema(): StructType = opts.schema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
        TableCapability.TRUNCATE).asJava

    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder =
      new org.apache.spark.sql.connector.write.WriteBuilder
          with org.apache.spark.sql.connector.write.SupportsTruncate {
        // the staged version IS the full table content either way
        override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = this
        override def build(): org.apache.spark.sql.connector.write.Write =
          new org.apache.spark.sql.connector.write.V1Write {
            override def toInsertableRelation
                : org.apache.spark.sql.sources.InsertableRelation =
              new org.apache.spark.sql.sources.InsertableRelation {
                override def insert(data: org.apache.spark.sql.Dataset[
                    org.apache.spark.sql.Row], overwrite: Boolean): Unit =
                  RefTableWrites.withQuarantineCache {
                    val gated = RefTableWrites.alignedStorage(opts,
                      RefTableWrites.enforceExpectations(opts, data.toDF()))
                    // an empty SELECT still stages one (empty) file so the
                    // adopted version dir is listable, like TRUNCATE
                    val out = if (gated.isEmpty) gated.repartition(1) else gated
                    VersionedTable.writeParquetMicros(
                      out, rtasDir.toString, opts.partitionColumns)
                  }
              }
          }
      }

    override def commitStagedChanges(): Unit = {
      val prim = CommitPrimitive.forPath(rootPath, conf)
      val dp = descriptorPath(ident)
      // survives a publish-CAS retry: our own first-attempt claim must
      // not read as "somebody else's table" on the second pass
      var claimed = false
      VersionedTable.withConflictRetry(rootPath.toString) { () =>
        val creating = !fs.exists(dp)
        if (!creating && !claimed && !replace && !orCreate)
          throw new TableAlreadyExistsException(ident)
        if (creating) {
          // existence gate first: a racing CREATE loses the claim and no
          // data version ever appears under the loser's descriptor
          if (!prim.putIfAbsent(dp, descriptor, conf))
            throw new TableAlreadyExistsException(ident)
          claimed = true
        }
        val base = VersionedTable.resolve(rootPath.toString, conf)
          .map(p => new Path(p).getName)
        VersionedTable.publishVia(rootPath.toString, opts.keepVersions,
          parent = base, requireBase = true,
          manifestPartitionCols = opts.partitionColumns) { staging =>
          if (fs.exists(rtasDir)) fs.listStatus(rtasDir).foreach { s =>
            val n = s.getPath.getName
            // data files and Hive partition dirs; skip _SUCCESS and crumbs
            if (!n.startsWith("_") && !n.startsWith("."))
              if (!org.apache.hadoop.fs.FileUtil.copy(
                  fs, s.getPath, fs, new Path(staging, n), false, conf))
                throw new java.io.IOException(s"failed to stage $n into $staging")
          }
        }
        // REPLACE: data is live and consistent under the OLD descriptor;
        // the schema swap is the last, single-rename step
        if (!creating) prim.overwrite(dp, descriptor, conf)
      }
      try fs.delete(rtasDir, true) catch { case _: java.io.IOException => () }
      try RefTableWrites.augmentStatsAfterCommit(
        opts, org.apache.spark.sql.SparkSession.active, conf)
      catch { case scala.util.control.NonFatal(_) => () }
    }

    override def abortStagedChanges(): Unit = {
      try fs.delete(rtasDir, true) catch { case _: java.io.IOException => () }
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    if (!fs.rename(tablePath(oldIdent), tablePath(newIdent)))
      throw new IllegalStateException(s"rename of ${oldIdent.toString} failed")
  }

  // ---- namespaces -----------------------------------------------------------

  override def defaultNamespace(): Array[String] = Array.empty

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).toIndexedSeq.filter(_.isDirectory)
      .map(s => Array(s.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val p = nsPath(namespace.toIndexedSeq)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(p).toIndexedSeq
      .filter(s => s.isDirectory && !fs.exists(new Path(s.getPath, Descriptor)))
      .map(s => namespace :+ s.getPath.getName).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || fs.exists(nsPath(namespace.toIndexedSeq))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    val p = nsPath(namespace.toIndexedSeq)
    if (fs.exists(p)) throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(p)
    ()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("reftable catalog namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace.toIndexedSeq)
    if (!fs.exists(p)) return false
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    fs.delete(p, true)
  }

  // ---- procedures (SQL CALL) ------------------------------------------------

  /** Resolve a procedure's `table` argument ('ns.tbl' inside this catalog)
    * to its versioned root + declared partition columns.
    */
  private def maintenanceTarget(tableRef: String): (String, Seq[String]) = {
    val parts = tableRef.split('.').toIndexedSeq.filter(_.nonEmpty)
    require(parts.nonEmpty, s"empty table reference '$tableRef'")
    val ident = Identifier.of(parts.init.toArray, parts.last)
    val (_, opts, _) = readDescriptor(ident)
    val partitionCols = opts.get("partitionColumns")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    (tablePath(ident).toString, partitionCols)
  }

  /** Procedures live under the reserved `system` namespace (the Iceberg
    * `CALL cat.system.<proc>(...)` convention).
    */
  /** Every table reference in the warehouse ('ns.tbl'), via the namespace
    * tree — O(directories), used by the maintain_all census.
    */
  private def allTableRefs(): Seq[String] = {
    def walk(ns: Array[String]): Seq[Array[String]] =
      ns +: listNamespaces(ns).flatMap(walk).toSeq
    walk(Array.empty).flatMap { ns =>
      try listTables(ns).toSeq.map(i => (i.namespace :+ i.name).mkString("."))
      catch { case _: NoSuchNamespaceException => Seq.empty }
    }
  }

  /** `CALL system.clone` backing: copy the SOURCE's descriptor verbatim to
    * TARGET (a CREATE-like atomic claim — schema, options and dropped-name
    * history all carry over), then zero-copy clone the current (or pinned)
    * version's files into the target's root
    * ([[VersionedTable.cloneTo]]). Returns the target's first version.
    */
  private def cloneTarget(
      sourceRef: String, targetRef: String, version: Option[String]): String = {
    def identOf(ref: String): Identifier = {
      val parts = ref.split('.').toIndexedSeq.filter(_.nonEmpty)
      require(parts.nonEmpty, s"empty table reference '$ref'")
      Identifier.of(parts.init.toArray, parts.last)
    }
    val src = identOf(sourceRef)
    val dst = identOf(targetRef)
    if (!tableExists(src)) throw new NoSuchTableException(src)
    if (tableExists(dst)) throw new TableAlreadyExistsException(dst)
    if (!fs.exists(nsPath(dst.namespace.toIndexedSeq)))
      throw new NoSuchNamespaceException(dst.namespace)
    val (_, opts, _) = readDescriptor(src)
    val in = fs.open(descriptorPath(src))
    val bytes =
      try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      finally in.close()
    fs.mkdirs(tablePath(dst))
    if (!CommitPrimitive.forPath(descriptorPath(dst), conf)
        .putIfAbsent(descriptorPath(dst), bytes, conf))
      throw new TableAlreadyExistsException(dst)
    val partitionCols = opts.get("partitionColumns")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    VersionedTable.cloneTo(
      tablePath(src).toString, tablePath(dst).toString, version, partitionCols)
  }

  /** Full declared options of a table reference — the resolver for
    * procedures that write through the table's own gates (ingest).
    */
  private def optsTarget(tableRef: String): RefTableOptions = {
    val parts = tableRef.split('.').toIndexedSeq.filter(_.nonEmpty)
    require(parts.nonEmpty, s"empty table reference '$tableRef'")
    val ident = Identifier.of(parts.init.toArray, parts.last)
    val (schema, opts, _) = readDescriptor(ident)
    RefTableOptions.from(new CaseInsensitiveStringMap(
      (Map("path" -> tablePath(ident).toString, "schema" -> schema.toDDL) ++ opts).asJava))
  }

  private val procedures =
    Seq("maintain", "maintain_all", "compact", "vacuum", "clone", "restore", "promote",
      "expect", "ingest", "create_branch", "fast_forward", "rebase_branch",
      "drop_branch", "analyze")

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      procedures.map(Identifier.of(namespace, _)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    if (ident.namespace.toSeq == Seq("system")) ident.name match {
      case "maintain" => new MaintainProcedure(maintenanceTarget)
      case "maintain_all" => new MaintainAllProcedure(allTableRefs, maintenanceTarget)
      case "compact" => new CompactProcedure(maintenanceTarget)
      case "vacuum" => new VacuumProcedure(maintenanceTarget)
      case "clone" => new CloneProcedure(cloneTarget)
      case "restore" => new RestoreProcedure(maintenanceTarget)
      case "promote" => new PromoteProcedure(maintenanceTarget)
      case "expect" => new ExpectProcedure(maintenanceTarget)
      case "ingest" => new IngestProcedure(optsTarget)
      case "analyze" => new AnalyzeProcedure(optsTarget)
      case "create_branch" => new CreateBranchProcedure(maintenanceTarget)
      case "fast_forward" => new FastForwardProcedure(maintenanceTarget)
      case "rebase_branch" => new RebaseBranchProcedure(maintenanceTarget)
      case "drop_branch" => new DropBranchProcedure(maintenanceTarget)
      case _ => throw new IllegalArgumentException(
        s"unknown procedure system.${ident.name} " +
          s"(supported: ${procedures.map("system." + _).mkString(", ")})")
    } else throw new IllegalArgumentException(
      s"unknown procedure ${ident.namespace.mkString(".")}.${ident.name} " +
        s"(supported: ${procedures.map("system." + _).mkString(", ")})")
}

object RefTableCatalog {
  /** Attach the `columnDefaults` option's DEFAULT declarations back onto a
    * schema as the CURRENT_DEFAULT / EXISTS_DEFAULT field metadata Spark's
    * INSERT resolution reads — applied ONLY on the Spark-facing
    * [[RefTable.schema]] surface; the engine's internal schemas stay plain
    * (metadata participates in StructType equality and DDL round-trips).
    */
  private[reftable] def attachDefaultsMetadata(
      schema: StructType, options: Map[String, String]): StructType = {
    def opt(key: String): Option[com.fasterxml.jackson.databind.JsonNode] =
      options.collectFirst {
        case (k, v) if k.equalsIgnoreCase(key) && v.nonEmpty => v
      }.map(new ObjectMapper().readTree)
    val defaults = opt("columnDefaults")
    val generated = opt("columnGenerated")
    if (defaults.isEmpty && generated.isEmpty) schema
    else StructType(schema.fields.map { f =>
      val dn = defaults.flatMap(n => Option(n.get(f.name)))
      val gn = generated.flatMap(n => Option(n.get(f.name)))
      if (dn.isEmpty && gn.isEmpty) f
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        dn.foreach { n =>
          Option(n.get("current")).foreach(c => mb.putString("CURRENT_DEFAULT", c.asText()))
          Option(n.get("exists")).foreach(c => mb.putString("EXISTS_DEFAULT", c.asText()))
        }
        gn.foreach(g => mb.putString("GENERATION_EXPRESSION", g.asText()))
        f.copy(metadata = mb.build())
      }
    })
  }

  /** Schema DDL with DEFAULT metadata stripped: `StructType.toDDL` renders
    * CURRENT_DEFAULT as `DEFAULT <sql>`, which the descriptor's DDL parser
    * does not take — defaults persist in the `columnDefaults` option
    * instead.
    */
  private[reftable] def plainDdl(schema: StructType): String =
    StructType(schema.fields.map { f =>
      val keys = Seq("CURRENT_DEFAULT", "EXISTS_DEFAULT", "GENERATION_EXPRESSION")
      if (!keys.exists(f.metadata.contains)) f
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
        keys.foreach(mb.remove)
        f.copy(metadata = mb.build())
      }
    }).toDDL

  /** The `columnGenerated` option JSON for a schema whose fields carry
    * GENERATED ALWAYS AS metadata, or None when no field does.
    */
  private[reftable] def generatedJson(schema: StructType): Option[String] = {
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    schema.fields.foreach { f =>
      if (f.metadata.contains("GENERATION_EXPRESSION"))
        root.put(f.name, f.metadata.getString("GENERATION_EXPRESSION"))
    }
    if (root.isEmpty) None else Some(om.writeValueAsString(root))
  }

  /** The `columnDefaults` option JSON for a schema whose fields carry
    * DEFAULT metadata (CURRENT_DEFAULT / EXISTS_DEFAULT), or None when no
    * field does. Jackson-serialized — default SQL text can contain any
    * character.
    */
  private[reftable] def defaultsJson(schema: StructType): Option[String] = {
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    schema.fields.foreach { f =>
      val cur = if (f.metadata.contains("CURRENT_DEFAULT"))
        Some(f.metadata.getString("CURRENT_DEFAULT")) else None
      val ex = if (f.metadata.contains("EXISTS_DEFAULT"))
        Some(f.metadata.getString("EXISTS_DEFAULT")) else None
      if (cur.nonEmpty || ex.nonEmpty) {
        val n = root.putObject(f.name)
        cur.foreach(n.put("current", _))
        ex.foreach(n.put("exists", _))
      }
    }
    if (root.isEmpty) None else Some(om.writeValueAsString(root))
  }

  /** Re-serialize after an ALTER COLUMN SET/DROP DEFAULT: `current`
    * updates (or clears) the column's entry in the existing JSON; an
    * entry left with neither key is dropped.
    */
  private[reftable] def updateDefaultsJson(
      existing: Option[String], col: String, current: Option[String]): Option[String] = {
    val om = new ObjectMapper()
    val root = existing match {
      case Some(j) => om.readTree(j).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      case None => om.createObjectNode()
    }
    current match {
      case Some(sql) =>
        val n = Option(root.get(col))
          .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
          .getOrElse(root.putObject(col))
        n.put("current", sql)
      case None =>
        Option(root.get(col)).foreach { n =>
          val on = n.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          on.remove("current")
          if (on.isEmpty) root.remove(col)
        }
    }
    if (root.isEmpty) None else Some(om.writeValueAsString(root))
  }

  /** Drop a column's entry entirely (DROP COLUMN retires its defaults). */
  private[reftable] def removeDefaultsCol(
      existing: Option[String], col: String): Option[String] = existing.flatMap { j =>
    val om = new ObjectMapper()
    val root = om.readTree(j).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.remove(col)
    if (root.isEmpty) None else Some(om.writeValueAsString(root))
  }

  /** Re-key a column's entry (RENAME COLUMN carries its defaults along). */
  private[reftable] def renameDefaultsCol(
      existing: Option[String], from: String, to: String): Option[String] =
    existing.map { j =>
      val om = new ObjectMapper()
      val root = om.readTree(j).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      Option(root.remove(from)).foreach(n =>
        root.set[com.fasterxml.jackson.databind.JsonNode](to, n))
      om.writeValueAsString(root)
    }.filter(j => !new ObjectMapper().readTree(j).isEmpty)
}
