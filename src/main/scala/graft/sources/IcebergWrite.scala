package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Minimal Iceberg WRITER (format-version 1, HadoopTables layout) — the
  * sink counterpart of [[IcebergScan]]. Emits the spec's file tree:
  * data files as Spark-written parquet under `data/`, one Avro
  * manifest per commit, an Avro manifest list per snapshot, versioned
  * `metadata/vN.metadata.json` (with field-ids) plus
  * `version-hint.text`.
  *
  * SCOPE, stated loudly: primitive column types; identity (hive
  * layout) partitioning, including row-level DML and rewrites on
  * partitioned tables — position deletes partition-scoped, equality
  * deletes global under the registered unpartitioned spec-id 1.
  * Within that scope the emitted tree is
  * spec-conformant for EXTERNAL readers too: every Avro schema field
  * carries its spec `field-id` (manifest_entry 0-4, data_file
  * 100-105/134, manifest_file 500-517), manifest files carry the
  * spec's key-value metadata (`schema`, `partition-spec`,
  * `partition-spec-id`, `format-version`, `content`), the manifest
  * list carries the full v2 `manifest_file` shape (content /
  * sequence_number / min_sequence_number / file and row counts, java
  * field names, field-id resolution), and position-delete parquet
  * files carry the reserved column ids 2147483546 (`file_path`) /
  * 2147483545 (`pos`). Data files are staged and metadata published
  * through [[TableCommit]]; appends and delete commits retry a lost
  * race when the winner commutes.
  *
  * Scale: identical to [[DeltaWrite]] — the data write is Spark's
  * distributed parquet writer; per commit the driver reads only new
  * parquet FOOTERS (row counts) and writes KBs of metadata.
  */
object IcebergWrite {
  import IcebergScan.{readAvro, readUtf8}
  import TableCommit.{jstr, Staged}

  /** `partitionBy` entries are bare column names (identity spec) or
    * the spec's HIDDEN-partitioning transforms: `day(ts)` / `month(ts)`
    * / `year(ts)` / `hour(ts)` / `bucket(16, id)` / `truncate(4, s)` —
    * transform SOURCE columns stay in the data files (readers filter on
    * the source, the manifest pruner skips via the derived values). */
  def create(spark: SparkSession, df: DataFrame, tablePath: String,
      txn: Option[(String, Long)] = None,
      partitionBy: Seq[String] = Nil): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(tablePath, "metadata")),
      s"Iceberg metadata already exists at $tablePath — use append")
    val pfs = partitionBy.map(IcebergTransforms.parse(_, df.schema))
    pfs.foreach { pf =>
      // the hive path must round-trip the RECORD type exactly
      require(hivePartitionable(pf.recordField.dataType),
        s"partition field '${pf.specName}' has path-lossy type " +
          s"${pf.recordField.dataType.sql}; supported: " +
          "string/long/int/short/byte/boolean/date")
      require(pf.specName.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"partition field name '${pf.specName}' is not a valid Avro/identifier name")
      require(!pf.isIdentity || pf.specName == pf.source.name, "identity names its source")
      require(pf.isIdentity || !df.schema.fieldNames.contains(pf.specName),
        s"derived partition field '${pf.specName}' collides with a data column")
    }
    require(pfs.map(_.specName).distinct.size == pfs.size,
      s"duplicate partition field names in ${partitionBy.mkString(", ")}")
    require(pfs.filter(_.isIdentity).size < df.schema.length || pfs.isEmpty,
      "cannot identity-partition by every column")
    commit(spark, fs, df, tablePath, version = 1, txn = txn,
      carryOverride = Some(freshCarry(df.schema, pfs)))
  }

  /** identity-partition column types the hive path layout round-trips
    * exactly (floats/timestamps intentionally excluded — their path
    * encodings are lossy or writer-dependent) */
  private def hivePartitionable(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | ShortType | ByteType |
         BooleanType | DateType => true
    case _ => false
  }

  def append(spark: SparkSession, df: DataFrame, tablePath: String): Unit =
    appendTxn(spark, df, tablePath, txn = None)

  /** [[append]] with full OCC RETRY. Two layers: (a) a CAS lost AFTER
    * the data files are staged retries metadata assembly only — the
    * parquet is reused verbatim, see [[commitWithRetry]]; (b) a
    * race detected BEFORE any data is written (the fast-fail) re-runs
    * the whole append here. Blind appends commute with everything
    * except a concurrent schema/partition-spec change, which re-runs
    * (the re-run re-validates against the NEW schema and fails loudly
    * on a real mismatch). Lost attempts leave unreferenced files for
    * [[removeOrphanFiles]]-style cleanup, never corruption. */
  def appendWithRetry(spark: SparkSession, df: DataFrame, tablePath: String,
      maxRetries: Int = TableCommit.MaxCommitRetries): Unit =
    TableCommit.retry(maxRetries)(append(spark, df, tablePath))

  /** OCC RE-EXECUTION wrapper for the copy-on-write ops (updateWhere /
    * merge / compact / zorder): a loser re-RUNS `body`, which replans
    * from the new current snapshot — always serializable, no conflict
    * taxonomy needed, at the cost of redoing the rewrite. The cheap
    * metadata-validating retries live inside [[append]] (assembly
    * reuse) and [[deleteWhere]]/[[deleteEqual]] (delete files reused
    * when the winner commutes); use this for everything else:
    * `IcebergWrite.retryOnConflict() { IcebergWrite.merge(...) }`. */
  def retryOnConflict[T](maxRetries: Int = TableCommit.MaxCommitRetries)(body: => T): T =
    TableCommit.retry(maxRetries)(body)

  private def appendTxn(spark: SparkSession, df: DataFrame, tablePath: String,
      txn: Option[(String, Long)]): Unit = {
    import org.apache.spark.sql.functions.col
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    // schema drift would silently corrupt the table: compare
    // (names, types) against the current metadata's spec schema
    val prevMeta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readUtf8(fs, new Path(tablePath, s"metadata/v$prev.metadata.json")))
    val declared = IcebergScan.sparkSchema(prevMeta.get("schema"))
    // write-defaults (spec §Default values): a declared column the
    // caller omitted, whose schema field carries `write-default`, is
    // filled with that value — in the declared position so the strict
    // check below still guards real drift
    val df1 = {
      val missing = declared.fieldNames.filterNot(df.columns.contains).toSet
      if (missing.isEmpty) df
      else {
        val wd = prevMeta.get("schema").get("fields").elements().asScala.flatMap { f =>
          val n = f.get("name").asText()
          if (!missing.contains(n)) scala.None
          else Option(f.get("write-default")).filterNot(_.isNull)
            .flatMap(j => ColumnDefaults.sqlFromIcebergJson(declared(n).dataType, j))
            .map(n -> _)
        }.toMap
        if (wd.isEmpty) df
        else {
          // keep caller columns NOT in the declared schema so the
          // strict require below still rejects them loudly (dropping
          // them here would silently discard the caller's data)
          val extra = df.columns.filterNot(declared.fieldNames.contains)
          df.select(declared.fieldNames.collect {
            case n if df.columns.contains(n) => col(n)
            case n if wd.contains(n) =>
              org.apache.spark.sql.functions.expr(wd(n))
                .cast(declared(n).dataType).as(n)
          }.toSeq ++ extra.map(col): _*)
        }
      }
    }
    require(
      declared.fields.map(f => (f.name, f.dataType)).toSeq ==
        df1.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"append schema ${df1.schema.simpleString} does not match the table's ${declared.simpleString}")
    commit(spark, fs, df1, tablePath, version = prev + 1, txn = txn)
  }

  /** [[create]]/[[append]] carrying an exactly-once streaming-sink txn
    * marker: table property `graft.txn.<appId>` = batchId, carried
    * forward by every later commit and SURVIVING snapshot expiry
    * (properties live in the metadata JSON, not in any snapshot).
    * The Iceberg twin of [[DeltaWrite.appendWithTxn]]'s txn action. */
  def createWithTxn(spark: SparkSession, df: DataFrame, tablePath: String,
      appId: String, batchId: Long): Unit =
    create(spark, df, tablePath, txn = Some((appId, batchId)))

  def appendWithTxn(spark: SparkSession, df: DataFrame, tablePath: String,
      appId: String, batchId: Long): Unit =
    appendTxn(spark, df, tablePath, txn = Some((appId, batchId)))

  /** highest batch id committed for `appId`, from the current metadata
    * JSON's table properties; None if this app never committed */
  def lastTxnVersion(spark: SparkSession, tablePath: String, appId: String): Option[Long] = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestVersion(fs, tablePath).flatMap { v =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readUtf8(fs, new Path(tablePath, s"metadata/v$v.metadata.json")))
      Option(node.get("properties")).flatMap(p =>
        Option(p.get(s"graft.txn.$appId")).map(_.asText().toLong))
    }
  }

  /** APPEND WITH SCHEMA EVOLUTION: columns of `df` the table lacks are
    * ADDED to the table schema with FRESH field ids continuing from
    * `last-column-id` (the spec's add-column evolution — ids are never
    * reused), registered as a NEW schema (next `schema-id`) in the
    * `schemas` list with `current-schema-id` advanced; columns the
    * table has but `df` lacks ride as NULLs; existing columns must
    * keep their exact types (loud otherwise, never coerced). Old data
    * files resolve the new columns to NULL by name — nothing is
    * rewritten. Plain [[append]]s then validate against the evolved
    * schema and carry it forward untouched. */
  def appendEvolve(spark: SparkSession, df: DataFrame, tablePath: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val metaDir = new Path(fs.makeQualified(new Path(tablePath)), "metadata")
    val prevCarry = carryFromPrev(fs, metaDir, prev)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val schemaNode = mapper.readTree(prevCarry.schemaJson)
    val declared = IcebergScan.sparkSchema(schemaNode)
    val byName = df.schema.fields.map(f => f.name -> f).toMap
    declared.fields.foreach { f =>
      byName.get(f.name).foreach { g =>
        require(g.dataType == f.dataType,
          s"column '${f.name}' type ${g.dataType.sql} does not match the " +
            s"table's ${f.dataType.sql} — appendEvolve adds columns, it " +
            "never changes types")
      }
    }
    val newFields = df.schema.fields
      .filterNot(f => declared.fieldNames.contains(f.name))
    val carry =
      if (newFields.isEmpty) prevCarry
      else {
        // merged schema: previous field nodes verbatim + new fields with
        // fresh ids after last-column-id, under the next schema-id
        val schemasNode = mapper.readTree(prevCarry.schemasArray)
          .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
        val newSchemaId = schemasNode.elements().asScala
          .map(_.get("schema-id").asInt()).max + 1
        val merged = schemaNode.deepCopy()
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        merged.put("schema-id", newSchemaId)
        val fieldsArr = merged.withArray("fields")
        newFields.zipWithIndex.foreach { case (f, i) =>
          val id = prevCarry.lastColumnId + 1 + i
          fieldsArr.add(mapper.readTree(
            s"""{"id":$id,"name":${jstr(f.name)},"required":false,""" +
              s""""type":${jstr(icebergType(f.dataType, f.name))}}"""))
        }
        schemasNode.add(merged)
        SchemaCarry(merged.toString, schemasNode.toString, newSchemaId,
          prevCarry.lastColumnId + newFields.length, prevCarry.tableUuid,
          prevCarry.specFieldsJson)
      }
    val mergedStruct = StructType(declared.fields ++
      newFields.map(_.copy(nullable = true)))
    val aligned = df.select(mergedStruct.fields.map { f =>
      if (byName.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    commit(spark, fs, aligned, tablePath, version = prev + 1,
      carryOverride = Some(carry))
  }

  /** ADD COLUMNS as a METADATA-ONLY version bump (no new snapshot —
    * nothing moved): the merged schema gets the next schema-id, new
    * fields take fresh ids after `last-column-id` (which advances),
    * and every existing file reads NULL for them by-name. The schema
    * half of [[appendEvolve]] without data; used by [[mergeEvolve]]. */
  def addColumns(spark: SparkSession, tablePath: String,
      cols: Seq[StructField],
      defaults: Map[String, Any] = Map.empty): Unit = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    require(cols.map(_.name).distinct.size == cols.size,
      "duplicate column names in addColumns")
    defaults.keys.foreach(k => require(cols.exists(_.name == k),
      s"default for '$k' names no added column"))
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val version = prev + 1
    val metaDir = new Path(fs.makeQualified(new Path(tablePath)), "metadata")
    // default VALUES are a format-version-3 schema feature (spec
    // §Default values): v1/v2 readers would silently ignore them and
    // read NULL — a wrong-results hazard, so refuse rather than stamp
    if (defaults.nonEmpty)
      require(prevFormatVersion(fs, metaDir, prev) >= 3,
        s"column defaults need format-version 3 — run upgradeFormatVersion($tablePath) first")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(readUtf8(fs, new Path(metaDir, s"v$prev.metadata.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val carry = carryFromPrev(fs, metaDir, prev)
    val declared = IcebergScan.sparkSchema(mapper.readTree(carry.schemaJson))
    cols.foreach(f => require(!declared.fieldNames.contains(f.name),
      s"column '${f.name}' already exists"))
    val schemasNode = mapper.readTree(carry.schemasArray)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    val newSchemaId = schemasNode.elements().asScala
      .map(_.get("schema-id").asInt()).max + 1
    val merged = mapper.readTree(carry.schemaJson).deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    merged.put("schema-id", newSchemaId)
    val fieldsArr = merged.withArray("fields")
    cols.zipWithIndex.foreach { case (f, i) =>
      val id = carry.lastColumnId + 1 + i
      // initial-default (rows that predate the field) and write-default
      // (filled when a writer omits the column) — same value here
      val dflt = defaults.get(f.name).map { v =>
        val j = ColumnDefaults.icebergJsonValue(f.dataType, v)
        s""","initial-default":$j,"write-default":$j"""
      }.getOrElse("")
      fieldsArr.add(mapper.readTree(
        s"""{"id":$id,"name":${jstr(f.name)},"required":false,""" +
          s""""type":${jstr(icebergType(f.dataType, f.name))}$dflt}"""))
    }
    schemasNode.add(merged)
    node.set[com.fasterxml.jackson.databind.JsonNode]("schema", merged)
    node.set[com.fasterxml.jackson.databind.JsonNode]("schemas", schemasNode)
    node.put("current-schema-id", newSchemaId)
    node.put("last-column-id", carry.lastColumnId + cols.length)
    node.put("last-updated-ms", System.currentTimeMillis())
    publishMetadata(fs, metaDir, version, node.toString)
  }

  /** MERGE WITH AUTOMATIC SCHEMA EVOLUTION — source columns the table
    * lacks are ADDED first ([[addColumns]], metadata-only), then the
    * merge runs with evolution semantics for table columns the source
    * lacks: matched rows KEEP their current value (filled from the
    * table before the upsert), inserted rows take NULL. Honors the
    * table's `write.merge.mode` (copy-on-write or merge-on-read) like
    * [[merge]]. Requires unique key tuples on both sides when the
    * source is narrower than the table. Returns
    * (rowsUpdated, rowsInserted). */
  def mergeEvolve(spark: SparkSession, tablePath: String, source: DataFrame,
      keys: Seq[String], txn: Option[(String, Long)] = None): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "merge needs at least one key column")
    val (declared, _) = IcebergScan.currentDataFiles(spark, tablePath)
    keys.foreach { k =>
      require(source.columns.contains(k), s"merge key column '$k' is not in the source")
      require(declared.fieldNames.contains(k), s"merge key column '$k' is not in the table schema")
    }
    val srcByName = source.schema.fields.map(f => f.name -> f).toMap
    declared.fields.foreach { f =>
      srcByName.get(f.name).foreach { g =>
        require(g.dataType == f.dataType,
          s"column '${f.name}' type ${g.dataType.sql} does not match the " +
            s"table's ${f.dataType.sql} — mergeEvolve adds columns, it " +
            "never changes types")
      }
    }
    val newFields = source.schema.fields
      .filterNot(f => declared.fieldNames.contains(f.name))
    if (newFields.nonEmpty) addColumns(spark, tablePath, newFields.toSeq)
    val schemaNow = StructType(declared.fields ++ newFields.map(_.copy(nullable = true)))
    val targetOnly = schemaNow.fieldNames.filterNot(source.columns.contains).toSeq
    val filled =
      if (targetOnly.isEmpty) source
      else source.join(
        IcebergScan.read(spark, tablePath).select((keys ++ targetOnly).map(col): _*),
        keys, "left")
    merge(spark, tablePath,
      filled.select(schemaNow.fieldNames.map(col).toSeq: _*), keys, txn)
  }

  /** test seam for the conditional-commit guard: commit at an explicit
    * metadata version — what a racing writer with a stale version hint
    * does right before it loses the race */
  private[graft] def commitAt(spark: SparkSession, df: DataFrame,
      tablePath: String, version: Int): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    commit(spark, fs, df, tablePath, version)
  }

  /** The schema-tracking state a commit writes into the metadata JSON.
    * Carried FORWARD verbatim on plain appends/deletes (a regenerated
    * schema would reset the ids/uuid an [[appendEvolve]] advanced);
    * fresh only at create; replaced by appendEvolve. `specFieldsJson`
    * is the partition spec's fields array (identity transforms only,
    * spec field-ids from 1000) — `[]` for unpartitioned tables. */
  private final case class SchemaCarry(
      schemaJson: String, schemasArray: String, currentSchemaId: Int,
      lastColumnId: Int, tableUuid: String, specFieldsJson: String = "[]",
      allSpecsJson: String = "", defaultSpecId: Int = 0,
      // spec §Sort Orders: the table's registered sort orders (the full
      // array, carried VERBATIM across commits — an order set by an
      // external writer must survive a graft DML) and the default id.
      // "" = nothing recorded yet (emit the unsorted order 0)
      sortOrdersJson: String = "", defaultSortOrderId: Int = 0) {
    /** one field of the default sort order this writer can HONOR:
      * (column name, ascending, nulls-first) — identity transforms over
      * current primitive columns only */
    def defaultSortFields: Seq[(String, Boolean, Boolean)] =
      if (defaultSortOrderId == 0 || sortOrdersJson.isEmpty) Seq.empty
      else {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val nameById = mapper.readTree(schemaJson).get("fields").elements().asScala
          .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
        val order = mapper.readTree(sortOrdersJson).elements().asScala
          .find(_.get("order-id").asInt() == defaultSortOrderId)
        val fields = order.toSeq.flatMap(_.get("fields").elements().asScala).map { f =>
          val transform = f.get("transform").asText()
          val name = nameById.get(f.get("source-id").asInt())
          val asc = f.get("direction").asText() == "asc"
          val nf = f.get("null-order").asText() == "nulls-first"
          (transform, name, asc, nf)
        }
        // honor only an order made ENTIRELY of identity fields over
        // known columns — sorting by a subset would stamp a false claim
        if (fields.forall { case (t, n, _, _) => t == "identity" && n.isDefined })
          fields.map { case (_, n, asc, nf) => (n.get, asc, nf) }
        else Seq.empty
      }
    /** partition spec field names, in spec order */
    def partCols: Seq[String] = IcebergWrite.specColNames(specFieldsJson)
    /** the spec-id of the registered UNPARTITIONED spec (global
      * equality deletes commit under it); classic tables pin it at 1
      * (0 when the table itself is unpartitioned) */
    def emptySpecId: Int =
      if (allSpecsJson.isEmpty) (if (partCols.isEmpty) 0 else 1)
      else {
        val specs = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(allSpecsJson)
        specs.elements().asScala.find(_.get("fields").size() == 0)
          .map(_.get("spec-id").asInt())
          .getOrElse(if (partCols.isEmpty) defaultSpecId else 1)
      }
    /** parsed spec fields (transform + source) */
    def partFields: Seq[IcebergTransforms.PartField] =
      parseSpecFields(specFieldsJson)
    /** the fields-json of a HISTORICAL spec by id (spec evolution keeps
      * every spec in `partition-specs`; a rewrite carries each kept
      * file under its original spec) — loud if the id is unknown */
    def specFieldsJsonFor(specId: Int): String =
      if (specId == defaultSpecId) specFieldsJson
      else if (allSpecsJson.isEmpty) {
        // classic single-spec tables register only spec 0 (+ the
        // unpartitioned spec 1 for global deletes)
        if (specId == emptySpecId) "[]"
        else throw new IllegalArgumentException(
          s"manifest references partition-spec-id $specId but the table " +
            "metadata records no partition-specs history")
      } else {
        val specs = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(allSpecsJson)
        specs.elements().asScala.find(_.get("spec-id").asInt() == specId)
          .map(_.get("fields").toString)
          .getOrElse(throw new IllegalArgumentException(
            s"manifest references partition-spec-id $specId which is not in " +
              "the table's partition-specs"))
      }
    /** [[partFields]] for a historical spec-id */
    def partFieldsFor(specId: Int): Seq[IcebergTransforms.PartField] =
      parseSpecFields(specFieldsJsonFor(specId))
    /** historical spec fields with their ORIGINAL slot positions plus
      * the total slot count (void slots included) — the manifest-list
      * field-summary layout is positional over ALL spec slots */
    def partFieldsIndexedFor(specId: Int): (Seq[(Int, IcebergTransforms.PartField)], Int) = {
      val json = specFieldsJsonFor(specId)
      val schemaNode = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(schemaJson)
      val nameById = schemaNode.get("fields").elements().asScala
        .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
      (IcebergTransforms.fromSpecJsonIndexed(json, nameById,
        IcebergScan.sparkSchema(schemaNode)), specColNames(json).size)
    }
    private def parseSpecFields(
        fieldsJson: String): Seq[IcebergTransforms.PartField] = {
      val schemaNode = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(schemaJson)
      val nameById = schemaNode.get("fields").elements().asScala
        .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
      IcebergTransforms.fromSpecJson(fieldsJson, nameById,
        IcebergScan.sparkSchema(schemaNode))
    }
    def hasTransforms: Boolean = partFields.exists(!_.isIdentity)
  }

  private[sources] def specColNames(specFieldsJson: String): Seq[String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(specFieldsJson)
    node.elements().asScala.map(_.get("name").asText()).toSeq
  }

  private def freshCarry(schema: StructType,
      partitionBy: Seq[IcebergTransforms.PartField]): SchemaCarry = {
    val json = icebergSchemaJson(schema)
    val specJson = partitionBy.zipWithIndex.map { case (pf, i) =>
      val sourceId = schema.fieldNames.indexOf(pf.source.name) + 1 // 1-based field order
      s"""{"name":${jstr(pf.specName)},"transform":${jstr(pf.transformJson)},""" +
        s""""source-id":$sourceId,"field-id":${1000 + i}}"""
    }.mkString("[", ",", "]")
    SchemaCarry(json, s"[$json]", 0, schema.length,
      java.util.UUID.randomUUID().toString, specJson)
  }

  private def carryFromPrev(fs: FileSystem, metaDir: Path, prev: Int): SchemaCarry = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readUtf8(fs, new Path(metaDir, s"v$prev.metadata.json")))
    val schemaJson = IcebergScan.currentSchemaJson(node)
    val nFields = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(schemaJson).get("fields").size()
    // partition spec: v2 partition-specs[default-spec-id], else the v1
    // flat partition-spec array. The FULL spec list + default id carry
    // forward verbatim so partition-spec EVOLUTION survives later
    // commits (old specs stay registered; old manifests reference them)
    val defaultId = Option(node.get("default-spec-id")).map(_.asInt()).getOrElse(0)
    val specFields = Option(node.get("partition-specs")).flatMap { specs =>
      specs.elements().asScala.find(_.get("spec-id").asInt() == defaultId)
        .map(_.get("fields").toString)
    }.orElse(Option(node.get("partition-spec")).map(_.toString))
      .getOrElse("[]")
    SchemaCarry(
      schemaJson,
      Option(node.get("schemas")).map(_.toString).getOrElse(s"[$schemaJson]"),
      Option(node.get("current-schema-id")).map(_.asInt()).getOrElse(0),
      Option(node.get("last-column-id")).map(_.asInt()).getOrElse(nFields),
      Option(node.get("table-uuid")).map(_.asText())
        .getOrElse(java.util.UUID.randomUUID().toString),
      specFields,
      allSpecsJson = Option(node.get("partition-specs")).map(_.toString).getOrElse(""),
      defaultSpecId = defaultId,
      sortOrdersJson = Option(node.get("sort-orders")).map(_.toString).getOrElse(""),
      defaultSortOrderId =
        Option(node.get("default-sort-order-id")).map(_.asInt()).getOrElse(0))
  }

  /** spec `required` (non-nullable) fields must hold no NULL in every
    * written batch — checked only for columns the incoming frame
    * declares nullable (no job otherwise), one combined limit-1 pass */
  private def enforceRequired(df: DataFrame, declared: StructType): Unit = {
    import org.apache.spark.sql.functions.col
    val dfNullable = df.schema.fields.filter(_.nullable).map(_.name).toSet
    val risky = declared.fields
      .filter(f => !f.nullable && dfNullable.contains(f.name)).map(_.name)
    if (risky.nonEmpty) {
      val anyNull = risky.map(col(_).isNull).reduce(_ || _)
      require(df.filter(anyNull).limit(1).count() == 0L,
        s"write carries NULL in required column(s) ${risky.mkString(", ")} — " +
          "nothing committed")
    }
  }

  private def txnProps(txn: Option[(String, Long)]): Map[String, String] =
    txn.map { case (appId, batchId) => s"graft.txn.$appId" -> batchId.toString }.toMap


  /** typed partition record rebuilt from a live manifest entry's
    * partition values (the EXISTING-entry path of a rewrite — the
    * original record must be carried byte-identical, not re-parsed
    * from the path, so non-hive layouts survive too) */
  private def partitionRecordFromEntry(dataFileSchema: Schema,
      partFields: Seq[IcebergTransforms.PartField],
      e: IcebergScan.FileEntry): GenericData.Record = {
    val rec = new GenericData.Record(dataFileSchema.getField("partition").schema())
    partFields.foreach { pf =>
      val n = pf.specName
      if (e.partition.contains(n)) rec.put(n, e.partition(n))
      else if (pf.isIdentity)
        // identity layouts drop the column from the payload — a missing
        // value is unreconstructable, never silently nulled
        throw new IllegalArgumentException(
          s"live entry ${e.path} carries no partition value for identity " +
            s"spec field '$n' — cannot rewrite a table whose manifests omit " +
            "partition records")
      else rec.put(n, null) // defensive: entries are carried under
        // their ORIGINAL spec (one rewrite manifest per spec-id), so
        // every spec field should be present in the source record —
        // including genuinely-null values, which land in the map as
        // name -> null and take the branch above
    }
    rec
  }

  private def commit(spark: SparkSession, fs: FileSystem, df: DataFrame,
      tablePath: String, version: Int,
      carryOverride: Option[SchemaCarry] = None,
      txn: Option[(String, Long)] = None,
      branch: Option[String] = scala.None): Unit = {
    val root = fs.makeQualified(new Path(tablePath))
    requireFreeVersion(fs, root, version)
    val conf = spark.sparkContext.hadoopConfiguration
    val metaDir = new Path(root, "metadata")

    val carry = carryOverride.getOrElse(
      if (version == 1) freshCarry(df.schema, Nil)
      else carryFromPrev(fs, metaDir, version - 1))
    val schemaJson = carry.schemaJson
    val partFields = carry.partFields
    val partCols = partFields.map(_.specName)
    partFields.foreach(pf => require(df.schema.fieldNames.contains(pf.source.name),
      s"the table is partitioned by '${pf.specName}' whose source column " +
        s"'${pf.source.name}' is not a column of the input"))

    // spec `required` fields must hold no NULL — free when the
    // incoming frame's schema already proves non-nullability
    enforceRequired(df, IcebergScan.sparkSchema(
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(schemaJson)))

    // the physical sort applied below follows the carry READ AT WRITE
    // TIME — an OCC retry must stamp this order's id even if a racing
    // setSortOrder changed the default (order ids are never reused, so
    // the id stays resolvable in the winner's metadata)
    val sortFields = carry.defaultSortFields
    val stampSortId =
      if (sortFields.isEmpty) scala.None else Some(carry.defaultSortOrderId)
    // the added files' record counts / sizes / footers are reusable
    // verbatim across OCC retries (the data files never move, only the
    // metadata around them is re-assembled)
    val added = TableCommit.stage(fs, root, "data") { staging =>
      // transform fields derive their hive value; partitionBy drops the
      // DERIVED column from the payload while the SOURCE column stays —
      // exactly the spec's hidden-partitioning layout (identity fields
      // keep the existing column-dropped hive layout)
      val derived = partFields.filterNot(_.isIdentity).foldLeft(
        stampFieldIds(df, schemaJson)) { (d, pf) =>
        d.withColumn(pf.specName, IcebergTransforms.columnExpr(pf))
      }
      // CLUSTER the append by the partition columns: without it every
      // task writes every partition dir it sees — files = tasks x
      // touched partitions (a day+bucket layout at 32 tasks x 240
      // tuples = 7680 tiny files per append, measured at sf1). One
      // hash shuffle puts each partition tuple in exactly one task →
      // files = touched partitions. Skewed tuples trade write
      // parallelism for file count — the standard partitioned-write
      // contract (Spark's own rebalance does the same).
      val clustered = WriteLayout.clusterByPartitions(spark, derived, partCols)
      // HONOR the table's default sort order: each data file's rows
      // sorted by it (prefixing the partition columns keeps the
      // FileFormatWriter's required ordering satisfied, so it adds no
      // sort of its own on top). The manifest entries then stamp
      // sort_order_id — the claim external engines read.
      val sorted =
        if (sortFields.isEmpty) clustered
        else clustered.sortWithinPartitions(
          (partCols.map(org.apache.spark.sql.functions.col) ++
            sortOrderExprs(sortFields)): _*)
      val writer = sorted.write.mode("append")
      (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
        .parquet(staging)
    }
    // an input with no rows stages no file: the commit still lands
    // (schema, txn marker), adding no data
    fs.mkdirs(metaDir)

    // one manifest for this commit's files (relative paths);
    // partitioned tables get typed partition records parsed from the
    // hive path. Version-DEPENDENT (snapshot ids, seq, file names) —
    // assembled per OCC attempt.
    def assemble(version: Int, carry: SchemaCarry): Unit = {
      // a table upgraded to v2 by deleteWhere stays v2 on later appends
      val fmtVersion = if (version == 1) 1 else prevFormatVersion(fs, metaDir, version - 1)
      // nonce'd names: two writers racing to the same version must not
      // collide on the avro paths (resolution is pointer-based through
      // the metadata JSON; only the v$N.metadata.json CAS arbitrates)
      val manifestRel = s"metadata/manifest-$version-${pathNonce()}.avro"
      val recordFields = carry.partFields.map(_.recordField)
      val entrySchema = manifestSchemaFor(recordFields, v3 = fmtVersion >= 3)
      val dataFileSchema = entrySchema.getField("data_file").schema()
      // v3 row lineage: added files get EXPLICIT first_row_id stamped
      // (sequential from the table's row-id counter) so their ids stay
      // stable however later rewrites reorder manifests
      val rowIdBase: Seq[Option[Long]] =
        if (fmtVersion < 3) added.map(_ => scala.None)
        else added.scanLeft(nextRowIdOf(fs, metaDir, version - 1))(_ + _.rows)
          .init.map(Some(_))
      writeAvro(fs, new Path(root, manifestRel), entrySchema,
        added.zip(rowIdBase).map { case (f, rowId) =>
          val file = new GenericData.Record(dataFileSchema)
          file.put("content", 0) // DATA
          file.put("file_path", f.rel)
          file.put("file_format", "PARQUET")
          file.put("partition",
            partitionRecordOf(dataFileSchema, recordFields, f.rel))
          file.put("record_count", f.rows)
          file.put("file_size_in_bytes", f.size)
          file.put("block_size_in_bytes", DefaultBlockSize)
          stampSortId.foreach(id => file.put("sort_order_id", Integer.valueOf(id)))
          rowId.foreach(id => file.put("first_row_id", Long.box(id)))
          attachStats(file, dataFileSchema, f.footer, carry.schemaJson)
          val entry = new GenericData.Record(entrySchema)
          entry.put("status", 1) // ADDED
          entry.put("snapshot_id", version.toLong)
          // sequence_number / file_sequence_number stay null on ADDED
          // entries: the spec's inheritance rule fills them from the
          // manifest-list row at read time
          entry.put("data_file", file)
          entry
        }, manifestMeta(carry.schemaJson, fmtVersion, content = "data",
          specFieldsJson = carry.specFieldsJson, specId = carry.defaultSpecId))
      val manifestLen = fs.getFileStatus(new Path(root, manifestRel)).getLen

      // snapshot's manifest list = all prior manifests (their length /
      // spec-id / seq / counts carried forward verbatim) + this one.
      // A BRANCH commit chains from the branch head (falling back to the
      // branching point = the current snapshot on first branch commit)
      val branchHead: Option[Long] = branch.flatMap { b =>
        if (version == 1) scala.None
        else {
          val prevNode = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(readUtf8(fs, new Path(root, s"metadata/v${version - 1}.metadata.json")))
          Option(prevNode.get("refs")).flatMap(r => Option(r.get(b)))
            .map(_.get("snapshot-id").asLong())
        }
      }
      val prevManifests = readPrevManifests(fs, conf, root, version, branchHead)
      val listRel = s"metadata/snap-$version-${pathNonce()}.avro"
      writeAvro(fs, new Path(root, listRel), manifestListSchema,
        (prevManifests :+ ManifestRef(manifestRel, manifestLen, carry.defaultSpecId,
          content = 0, seq = version.toLong, minSeq = version.toLong,
          snapshotId = version.toLong, addedFiles = added.size,
          existingFiles = 0, deletedFiles = 0,
          addedRows = added.map(_.rows).sum, existingRows = 0L,
          deletedRows = 0L)) pipe (rs => listRecords(fs, conf, root, carry, rs)),
        manifestListMeta(version, fmtVersion))

      // the field-id marker rides the FIRST commit: every data file this
      // writer emits carries parquet field ids, which is what makes
      // renameColumn's id-based read resolution sound for the whole table
      writeMetadataJson(fs, metaDir, root, version, fmtVersion,
        carry, listRel, operation = "append", propsOverride = txnProps(txn) ++
          (if (version == 1) Map(FieldIdsProp -> "true") else Map.empty),
        branchRef = branch,
        assignedRows = if (fmtVersion < 3) 0L else added.map(_.rows).sum)
    }

    // a fast-append commutes with ANY concurrent commit that leaves the
    // schema and partition spec intact: the winner's manifests are
    // re-read and ours is rebuilt at the next version (the lost
    // attempt's manifest/list avros are unreferenced orphans). A create
    // has no winner to commute with.
    commitWithRetry(spark, fs, root, tablePath, "append", carry, version,
      maxRetries = if (version == 1) 0 else TableCommit.MaxCommitRetries)(assemble)
  }

  /** the table's current metadata version: the version hint, advanced
    * past any version already published beyond it — the hint swap
    * trails the metadata CAS and may be a delete-then-rename, so a
    * concurrent commit can leave it lagging or briefly absent. None
    * when `tablePath` holds no metadata version. */
  private def latestVersion(fs: FileSystem, tablePath: String): Option[Int] = {
    val metaDir = new Path(tablePath, "metadata")
    var v =
      try readUtf8(fs, new Path(metaDir, "version-hint.text")).trim.toInt
      catch { case _: java.io.FileNotFoundException => 0 }
    while (fs.exists(new Path(metaDir, s"v${v + 1}.metadata.json"))) v += 1
    Some(v).filter(_ > 0)
  }

  private def currentVersion(fs: FileSystem, tablePath: String): Int = {
    val v = latestVersion(fs, tablePath)
    require(v.nonEmpty, s"no Iceberg table at $tablePath — use create")
    v.get
  }

  /** fast-fail a stale racing writer BEFORE any data is written (no
    * orphan parquet); the conditional publish stays the atomic guard
    * for the true photo-finish race */
  private def requireFreeVersion(fs: FileSystem, root: Path, version: Int): Unit = {
    val targetMeta = new Path(root, s"metadata/v$version.metadata.json")
    if (fs.exists(targetMeta)) throw TableCommit.slotTaken("Iceberg", targetMeta)
  }

  /** The OCC loop of every Iceberg snapshot commit: `assemble` writes
    * the manifests + list and publishes metadata at version v. A lost
    * race re-validates against the winner, then re-assembles at the
    * next version with the staged files reused verbatim: the winner
    * must keep the schema and partition spec (staged files carry the
    * planned field ids and layout) and, when `plannedLive` is
    * non-empty, every data file the staged deletes reference (a
    * concurrent compact/rewrite would resurrect the deleted rows
    * through the rewritten copies). */
  private def commitWithRetry(spark: SparkSession, fs: FileSystem, root: Path,
      tablePath: String, op: String, carry: SchemaCarry, version: Int,
      plannedLive: Set[String] = Set.empty,
      maxRetries: Int = TableCommit.MaxCommitRetries)(
      assemble: (Int, SchemaCarry) => Unit): Unit = {
    beforeCommit()
    val metaDir = new Path(root, "metadata")
    var v = version
    var c = carry
    TableCommit.retry(maxRetries, { e =>
      val latest = currentVersion(fs, tablePath)
      val nc = carryFromPrev(fs, metaDir, latest)
      if (nc.schemaJson != c.schemaJson || nc.specFieldsJson != c.specFieldsJson)
        throw new java.util.ConcurrentModificationException(
          s"$op lost the commit race at $tablePath and the winner changed " +
            s"the schema or partition spec — re-run the $op", e)
      if (plannedLive.nonEmpty &&
          !plannedLive.subsetOf(IcebergScan.currentDataFiles(spark, tablePath)._2.toSet))
        throw new java.util.ConcurrentModificationException(
          s"$op lost the commit race at $tablePath and the winner " +
            s"removed/rewrote data files this $op references — re-run the " +
            s"$op on the current table state", e)
      c = nc
      v = latest + 1
    })(assemble(v, c))
  }

  /** test seam: runs right before a commit's first CAS attempt — the
    * deterministic way to land a racing commit inside the window the
    * OCC retry covers */
  private[graft] var beforeCommit: () => Unit = () => ()

  /** short unique suffix for manifest/list file names (see assemble) */
  private[sources] def pathNonce(): String =
    java.util.UUID.randomUUID().toString.take(8)

  /** table property marking that every data file was written with
    * parquet field ids (set at create by this writer; absent on tables
    * created before field-id stamping existed) */
  private[sources] val FieldIdsProp = "graft.write.field-ids"

  /** stamp `parquet.field.id` metadata on every column present in the
    * table schema — the spec REQUIRES ids in data files, and they make
    * reads rename-proof (resolution by id, not name) */
  private def stampFieldIds(df: DataFrame, schemaJson: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val idByName = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(schemaJson).get("fields").elements().asScala
      .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
    df.select(df.schema.fields.map { f =>
      idByName.get(f.name) match {
        case Some(id) => col(f.name).as(f.name,
          new MetadataBuilder().putLong("parquet.field.id", id.toLong).build())
        case scala.None => col(f.name)
      }
    }.toSeq: _*)
  }

  /** RENAME a top-level column WITHOUT rewriting any data — the
    * field-id path: ids never change, so a new schema (same ids, new
    * name) registered under the next schema-id re-labels every byte in
    * place; the reader resolves parquet columns BY ID. One new
    * metadata.json version, NO new snapshot. Requires a table whose
    * files all carry field ids (created by this writer — the
    * [[FieldIdsProp]] marker; older tables refuse loudly rather than
    * mis-resolve old files by name). Partition-spec source columns
    * refuse (their name is the hive path layout). */
  def renameColumn(spark: SparkSession, tablePath: String,
      from: String, to: String): Unit = {
    // the target must not shadow a partition-spec FIELD name: transform
    // spec names (ts_day, id_bucket) are hive path segments and
    // partition-record keys, and a data column with the same name would
    // collide in partition discovery. Renaming a transform SOURCE
    // column is fine — spec fields reference it by source-id, so
    // derivation and source-column pruning follow the new name
    // (proven in IcebergScanSpec).
    val fs0 = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestVersion(fs0, tablePath).foreach { prev0 =>
      val metaDir0 = new Path(fs0.makeQualified(new Path(tablePath)), "metadata")
      val specNames = carryFromPrev(fs0, metaDir0, prev0).partCols
      require(!specNames.contains(to),
        s"cannot rename to '$to': it is a partition field name of the " +
          "table's spec (the hive path layout)")
    }
    evolveSchema(spark, tablePath, s"renameColumn($from -> $to)", from) {
      (schemaNode, names) =>
        require(names.contains(from), s"no column '$from' to rename")
        require(!names.contains(to), s"column '$to' already exists")
        schemaNode.withArray("fields").elements().asScala.foreach { f =>
          if (f.get("name").asText() == from)
            f.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
              .put("name", to)
        }
    }
  }

  /** DROP a top-level column without rewriting any data — the dropped
    * field id is simply absent from the new schema, so old files' bytes
    * become invisible; `last-column-id` never decreases, so a later
    * [[appendEvolve]] re-adding the same LOGICAL name gets a FRESH id
    * and (under id-resolved reads) can never resurrect the orphaned
    * bytes. Refuses when a live equality-delete file references the
    * dropped field (its keys would become unresolvable). */
  def dropColumn(spark: SparkSession, tablePath: String, name: String): Unit = {
    // live eq-delete reference check BEFORE the metadata edit
    val mapper0 = new com.fasterxml.jackson.databind.ObjectMapper()
    val fs0 = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestVersion(fs0, tablePath).foreach { prev0 =>
      val metaDir0 = new Path(fs0.makeQualified(new Path(tablePath)), "metadata")
      val carry0 = carryFromPrev(fs0, metaDir0, prev0)
      // a TRANSFORM spec field derives from its source by source-id: with
      // the source dropped the spec becomes unresolvable and every later
      // read/append fails parsing it — refuse up front (identity sources
      // are already refused by the partition-column guard below)
      carry0.partFields.find(pf => !pf.isIdentity && pf.source.name == name)
        .foreach { pf =>
          throw new IllegalArgumentException(
            s"cannot drop '$name': partition field '${pf.specName}' " +
              s"(${pf.transformJson}) derives from it — rewrite into a table " +
              "without that partition field first")
        }
      val idByName = mapper0.readTree(carry0.schemaJson)
        .get("fields").elements().asScala
        .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
      idByName.get(name).foreach { id =>
        val (_, entries) = IcebergScan.currentEntries(spark, tablePath)
        require(!entries.exists(e => e.content == 2 && e.eqIds.contains(id)),
          s"cannot drop '$name': a live equality-delete file references its " +
            s"field id $id — compact first so the delete is applied and retired")
      }
    }
    evolveSchema(spark, tablePath, s"dropColumn($name)", name) { (schemaNode, names) =>
      require(names.contains(name), s"no column '$name' to drop")
      require(names.size > 1, "cannot drop the last column")
      val fields = schemaNode.withArray("fields")
      val keep = fields.elements().asScala.filter(_.get("name").asText() != name).toSeq
      fields.removeAll()
      keep.foreach(fields.add)
    }
  }

  /** PARTITION-SPEC EVOLUTION (transform specs only): register a new
    * DEFAULT spec without rewriting any data — the canonical lakehouse
    * lifecycle is "start unpartitioned, add day(ts) once volume
    * demands it". One metadata-only version bump: the new spec joins
    * `partition-specs` under the next spec-id and becomes the default;
    * old files stay under their original specs (their manifests carry
    * their own partition records), readers prune NEW files through the
    * new spec and keep OLD files conservatively (no transform value →
    * never pruned), and a COMPACT folds old files into the new layout.
    *
    * Transform fields only, in the new spec AND in every spec the
    * table ever had: identity fields change the PAYLOAD layout (the
    * source column is dropped from the data files), so evolving across
    * them would corrupt reads of pre-evolution files — refused loudly.
    * An empty `partitionBy` evolves the table to the unpartitioned
    * spec (future writes land flat). v1 tables upgrade to
    * format-version 2 (the version that defines spec evolution). */
  def updatePartitionSpec(spark: SparkSession, tablePath: String,
      partitionBy: Seq[String]): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val version = prev + 1
    val root = fs.makeQualified(new Path(tablePath))
    val metaDir = new Path(root, "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(readUtf8(fs, new Path(metaDir, s"v$prev.metadata.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val carry = carryFromPrev(fs, metaDir, prev)
    val schema = IcebergScan.sparkSchema(mapper.readTree(carry.schemaJson))

    val pfs = partitionBy.map(IcebergTransforms.parse(_, schema))
    pfs.find(_.isIdentity).foreach { pf =>
      throw new IllegalArgumentException(
        s"partition-spec evolution supports transform fields only; " +
          s"'${pf.specName}' is identity — identity layouts drop the source " +
          "column from the data files, so old files could not be read back; " +
          "repartition into a fresh table instead")
    }
    require(pfs.map(_.specName).distinct.size == pfs.size,
      s"duplicate partition field names in ${partitionBy.mkString(", ")}")

    val nameById = mapper.readTree(carry.schemaJson).get("fields").elements().asScala
      .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    val existingSpecs: Seq[(Int, String)] =
      if (carry.allSpecsJson.nonEmpty)
        mapper.readTree(carry.allSpecsJson).elements().asScala
          .map(sp => sp.get("spec-id").asInt() -> sp.get("fields").toString).toSeq
      else if (carry.partCols.isEmpty) Seq(0 -> carry.specFieldsJson)
      else Seq(0 -> carry.specFieldsJson, 1 -> "[]")
    existingSpecs.foreach { case (id, fieldsJson) =>
      IcebergTransforms.fromSpecJson(fieldsJson, nameById, schema).foreach { pf =>
        require(!pf.isIdentity,
          s"cannot evolve the partition spec: existing spec $id has identity " +
            s"field '${pf.specName}' whose source column is not in the old " +
            "data files — rewrite into a fresh table instead")
      }
    }

    val existingFieldIds = existingSpecs.flatMap { case (_, fj) =>
      mapper.readTree(fj).elements().asScala.map(_.get("field-id").asInt()).toSeq
    }
    val maxFieldId = (existingFieldIds :+ 999).max
    val idByName = nameById.map(_.swap)
    val newFieldsJson = pfs.zipWithIndex.map { case (pf, i) =>
      s"""{"name":${jstr(pf.specName)},"transform":${jstr(pf.transformJson)},""" +
        s""""source-id":${idByName(pf.source.name)},"field-id":${maxFieldId + 1 + i}}"""
    }.mkString("[", ",", "]")
    val newSpecId = existingSpecs.map(_._1).max + 1
    val allSpecs = existingSpecs :+ (newSpecId -> newFieldsJson)
    val specsJson = allSpecs
      .map { case (id, fj) => s"""{"spec-id":$id,"fields":$fj}""" }
      .mkString("[", ",", "]")

    // v1 tables upgrade to format-version 2 (same upgrade shape the
    // first row-level delete performs)
    val fmtV = Option(node.get("format-version")).map(_.asInt()).getOrElse(1)
    if (fmtV < 2) {
      node.put("format-version", 2)
      node.put("last-sequence-number", prev)
      node.set[com.fasterxml.jackson.databind.JsonNode](
        "schemas", mapper.readTree(carry.schemasArray))
      node.put("current-schema-id", carry.currentSchemaId)
      // a v1 table MAY already record sort-orders (optional in v1) —
      // the upgrade must not clobber them
      if (!node.has("sort-orders"))
        node.set[com.fasterxml.jackson.databind.JsonNode](
          "sort-orders", mapper.readTree("""[{"order-id":0,"fields":[]}]"""))
      if (!node.has("default-sort-order-id")) node.put("default-sort-order-id", 0)
    }
    node.set[com.fasterxml.jackson.databind.JsonNode](
      "partition-specs", mapper.readTree(specsJson))
    node.put("default-spec-id", newSpecId)
    node.set[com.fasterxml.jackson.databind.JsonNode](
      "partition-spec", mapper.readTree(newFieldsJson))
    node.put("last-partition-id", maxFieldId + pfs.size)
    node.put("last-updated-ms", System.currentTimeMillis())
    publishMetadata(fs, metaDir, version, node.toString)
  }

  /** Register a table SORT ORDER (spec §Sort Orders) and make it the
    * default — the metadata external engines read to know how data
    * files are clustered (a sort-merge join or range scan can skip the
    * sort when the files already claim the order). Metadata-only
    * commit: nothing moves; SUBSEQUENT writes honor the order
    * ([[append]] sorts each file's rows by it and stamps
    * `sort_order_id` on the manifest entries; [[compact]] rewrites into
    * the order). Files written before the order keep `sort_order_id`
    * null — their rows genuinely aren't sorted.
    *
    * `orderBy` entries: `"col"`, `"col desc"`, `"col asc nulls-last"`
    * (direction defaults to asc; null order defaults to the spec's
    * convention — nulls-first for asc, nulls-last for desc). Identity
    * transforms over current primitive columns only. `Nil` resets the
    * default to the unsorted order 0 (registered orders stay — order
    * ids are never reused).
    *
    * An existing order with identical fields is REUSED (its id becomes
    * the default) — repeated calls are idempotent. v1 tables upgrade to
    * format-version 2, same shape as [[updatePartitionSpec]]. */
  def setSortOrder(spark: SparkSession, tablePath: String,
      orderBy: Seq[String]): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val version = prev + 1
    val root = fs.makeQualified(new Path(tablePath))
    val metaDir = new Path(root, "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(readUtf8(fs, new Path(metaDir, s"v$prev.metadata.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val carry = carryFromPrev(fs, metaDir, prev)

    val idByName = mapper.readTree(carry.schemaJson).get("fields").elements().asScala
      .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
    val parsed = orderBy.map { raw =>
      val toks = raw.trim.split("\\s+").toSeq
      val name = toks.head
      val mods = toks.tail.map(_.toLowerCase.replace("_", "-"))
      val bad = mods.filterNot(Set("asc", "desc", "nulls-first", "nulls-last"))
      require(bad.isEmpty,
        s"sort field '$raw': unknown modifier(s) ${bad.mkString(", ")} — " +
          "expected [asc|desc] [nulls-first|nulls-last]")
      require(!(mods.contains("asc") && mods.contains("desc")),
        s"sort field '$raw' declares both asc and desc")
      val sourceId = idByName.getOrElse(name, throw new IllegalArgumentException(
        s"sort column '$name' is not a column of the table " +
          s"(columns: ${idByName.keys.toSeq.sorted.mkString(", ")})"))
      val asc = !mods.contains("desc")
      val nullsFirst =
        if (mods.contains("nulls-first")) true
        else if (mods.contains("nulls-last")) false
        else asc // the spec convention: asc → nulls-first, desc → nulls-last
      s"""{"transform":"identity","source-id":$sourceId,""" +
        s""""direction":"${if (asc) "asc" else "desc"}",""" +
        s""""null-order":"${if (nullsFirst) "nulls-first" else "nulls-last"}"}"""
    }
    require(parsed.size == parsed.distinct.size,
      s"duplicate sort fields in ${orderBy.mkString(", ")}")
    val fieldsJson = parsed.mkString("[", ",", "]")

    val existing: Seq[(Int, String)] =
      (if (carry.sortOrdersJson.nonEmpty)
        mapper.readTree(carry.sortOrdersJson).elements().asScala
          .map(o => o.get("order-id").asInt() -> o.get("fields").toString).toSeq
      else Seq(0 -> "[]")).sortBy(_._1)
    require(existing.exists(_._1 == 0) || orderBy.nonEmpty,
      "sort order 0 (unsorted) is not registered") // defensive; 0 always present below
    val (allOrders, defaultId) = existing.find(_._2 == fieldsJson) match {
      case Some((id, _)) => (existing, id) // identical order → idempotent
      case scala.None if orderBy.isEmpty => (existing, 0)
      case scala.None =>
        val newId = existing.map(_._1).max + 1
        (existing :+ (newId -> fieldsJson), newId)
    }
    val ordersJson = allOrders
      .map { case (id, fj) => s"""{"order-id":$id,"fields":$fj}""" }
      .mkString("[", ",", "]")

    // v1 tables upgrade to format-version 2 (same upgrade shape
    // updatePartitionSpec performs)
    val fmtV = Option(node.get("format-version")).map(_.asInt()).getOrElse(1)
    if (fmtV < 2) {
      node.put("format-version", 2)
      node.put("last-sequence-number", prev)
      node.set[com.fasterxml.jackson.databind.JsonNode](
        "schemas", mapper.readTree(carry.schemasArray))
      node.put("current-schema-id", carry.currentSchemaId)
      if (!node.has("partition-specs")) {
        val nSpec = specColNames(carry.specFieldsJson).size
        val specsJson =
          if (nSpec == 0) s"""[{"spec-id":0,"fields":${carry.specFieldsJson}}]"""
          else s"""[{"spec-id":0,"fields":${carry.specFieldsJson}},{"spec-id":1,"fields":[]}]"""
        node.set[com.fasterxml.jackson.databind.JsonNode](
          "partition-specs", mapper.readTree(specsJson))
        node.put("default-spec-id", 0)
        val ids = mapper.readTree(specsJson).elements().asScala
          .flatMap(_.get("fields").elements().asScala)
          .map(_.get("field-id").asInt()).toSeq
        node.put("last-partition-id", if (ids.isEmpty) 999 else ids.max)
      }
    }
    node.set[com.fasterxml.jackson.databind.JsonNode](
      "sort-orders", mapper.readTree(ordersJson))
    node.put("default-sort-order-id", defaultId)
    node.put("last-updated-ms", System.currentTimeMillis())
    publishMetadata(fs, metaDir, version, node.toString)
  }

  /** the table's default sort order as (order-id, fields) —
    * fields empty when the default is the unsorted order 0 or holds
    * transforms this writer can't honor */
  private[graft] def defaultSortOrder(spark: SparkSession,
      tablePath: String): (Int, Seq[(String, Boolean, Boolean)]) = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestVersion(fs, tablePath).map { prev =>
      val carry = carryFromPrev(fs, new Path(tablePath, "metadata"), prev)
      (carry.defaultSortOrderId, carry.defaultSortFields)
    }.getOrElse((0, Seq.empty))
  }

  /** shared rename/drop core: field-id-marker + partition-column
    * guards, then ONE metadata-only version bump registering the
    * transformed schema under the next schema-id (same snapshot —
    * nothing moves) */
  private def evolveSchema(spark: SparkSession, tablePath: String, op: String,
      touched: String)(
      xform: (com.fasterxml.jackson.databind.node.ObjectNode, Seq[String]) => Unit): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val version = prev + 1
    val root = fs.makeQualified(new Path(tablePath))
    val metaDir = new Path(root, "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(readUtf8(fs, new Path(metaDir, s"v$prev.metadata.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val hasIds = Option(node.get("properties"))
      .flatMap(p => Option(p.get(FieldIdsProp))).exists(_.asText() == "true")
    require(hasIds,
      s"$op needs every data file to carry parquet field ids — " +
        s"$tablePath predates field-id stamping (no $FieldIdsProp property); " +
        "rewrite it (compact into a fresh table) first")
    val carry = carryFromPrev(fs, metaDir, prev)
    require(!carry.partCols.contains(touched),
      s"'$touched' is a partition column — its name is the hive path layout; " +
        "repartition into a new table to change it")

    val schemaNode = mapper.readTree(carry.schemaJson)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val names = schemaNode.get("fields").elements().asScala
      .map(_.get("name").asText()).toSeq
    val schemasNode = mapper.readTree(carry.schemasArray)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    val newSchemaId = schemasNode.elements().asScala
      .map(_.get("schema-id").asInt()).max + 1
    val evolved = schemaNode.deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    evolved.put("schema-id", newSchemaId)
    xform(evolved, names)
    schemasNode.add(evolved)

    // metadata-only version bump (same snapshot — nothing moved)
    node.set("schema", evolved)
    node.set("schemas", schemasNode)
    node.put("current-schema-id", newSchemaId)
    node.put("last-updated-ms", System.currentTimeMillis())
    publishMetadata(fs, metaDir, version, node.toString)
  }

  /** COMPACTION (the spec's `replace` snapshot): rewrite the live data
    * files smaller than `smallFileBytes` into `targetFiles` outputs,
    * WITH every applicable row-level delete applied during the rewrite
    * (the compacted output holds exactly the surviving rows), behind
    * one conditional commit whose manifest list REPLACES the previous
    * data manifests with a single rewritten manifest: ADDED entries
    * for the compacted outputs (sequence = this commit, so older
    * position/equality deletes never re-apply to them) + EXISTING
    * entries for the untouched files CARRYING THEIR ORIGINAL sequence
    * numbers (so existing equality deletes keep applying to them
    * exactly as before). Delete manifests carry forward unchanged —
    * position deletes naming rewritten (dead) paths are structurally
    * inert. Time travel to pre-compaction snapshots keeps working.
    *
    * Returns (filesCompacted, filesWritten); fewer than two small
    * files is a no-op (nothing to gain, no commit). */
  def compact(spark: SparkSession, tablePath: String,
      smallFileBytes: Long = 32L << 20, targetFiles: Int = 1): (Int, Int) = {
    // honor the table's default sort order: range-cluster the rewrite
    // across the target files (distributed sort, no single-task funnel)
    // so the output is globally clustered, per-file sorted, and stamped
    // with the order's id. Unsorted tables keep the plain repartition.
    val (_, sortFields) = defaultSortOrder(spark, tablePath)
    val shape: (DataFrame, Int) => DataFrame =
      if (sortFields.isEmpty) (df, t) => df.repartition(t)
      else (df, t) => df.repartitionByRange(t, sortOrderExprs(sortFields): _*)
    rewriteSnapshot(spark, tablePath,
      pick = { sized =>
        val small = sized.filter(_._2 < smallFileBytes)
        if (small.size < 2) Seq.empty else small // fewer than 2: nothing to gain
      },
      targetFiles, shape, operation = "replace", honorSortOrder = true)
  }

  /** Z-ORDER the table (a `replace` snapshot like [[compact]], over
    * ALL live files): rows re-clustered by the bit-interleaved key of
    * `dims` ([[graft.operators.ScaleOps.zorderValue]]) via a
    * distributed range-partitioned sort, deletes applied during the
    * rewrite. Same equal-width bucket-grid domain mapping as
    * [[DeltaWrite.zorder]]; the payoff here is parquet ROW-GROUP
    * pruning on every clustered dim (Spark's parquet reader skips row
    * groups by footer min/max on pushed filters). Dims must be
    * numeric/date/timestamp data columns. */
  def zorder(spark: SparkSession, tablePath: String, dims: Seq[String],
      bitsPerCol: Int = 12, targetFiles: Int = 8): (Int, Int) = {
    require(dims.nonEmpty, "need at least one z-order dimension")
    require(bitsPerCol >= 1 && bitsPerCol * dims.size <= 63,
      s"bitsPerCol * nDims must fit a signed long, got $bitsPerCol * ${dims.size}")
    import org.apache.spark.sql.functions._
    rewriteSnapshot(spark, tablePath, pick = identity,
      targetFiles, { (df, t) =>
        dims.foreach { d =>
          val f = df.schema.fields.find(_.name == d).getOrElse(
            throw new IllegalArgumentException(
              s"z-order dim '$d' not in table columns ${df.columns.mkString(", ")}"))
          require(f.dataType.isInstanceOf[NumericType] || f.dataType == DateType ||
              f.dataType == TimestampType || f.dataType == TimestampNTZType,
            s"z-order dim '$d' has type ${f.dataType.simpleString}; " +
              "numeric/date/timestamp required (hash or rank strings yourself)")
        }
        // one metadata-cheap agg: global [min,max] per dim → bucket grid
        val aggCols = dims.flatMap(d => Seq(
          min(col(d).cast("double")).as(s"__mn_$d"),
          max(col(d).cast("double")).as(s"__mx_$d")))
        val bounds = df.agg(aggCols.head, aggCols.tail: _*).collect()(0) // [lint:bounded] one agg row
        val nb = 1L << bitsPerCol
        val buckets = dims.zipWithIndex.map { case (d, i) =>
          val mn = if (bounds.isNullAt(2 * i)) 0.0 else bounds.getDouble(2 * i)
          val mx = if (bounds.isNullAt(2 * i + 1)) 0.0 else bounds.getDouble(2 * i + 1)
          if (mx <= mn) lit(0L)
          else least(lit(nb - 1), greatest(lit(0L),
            floor((col(d).cast("double") - lit(mn)) / lit((mx - mn) / nb)).cast("long")))
        }
        val z = graft.operators.ScaleOps.zorderValue(buckets, bitsPerCol)
        df.withColumn("__graft_z", z)
          .repartitionByRange(t, col("__graft_z"))
          .sortWithinPartitions("__graft_z")
          .drop("__graft_z")
      }, operation = "replace")
  }

  /** Shared OVERWRITE/REPLACE snapshot core: `pick` selects the victim
    * data files from the sized live entries (empty ⇒ no-op, no commit),
    * `shape` maps the victims-through-the-reader view (all applicable
    * deletes applied) to the replacement rows. The commit's single data
    * manifest holds ADDED entries for the outputs (sequence = this
    * commit) + EXISTING entries for untouched files with their original
    * sequence numbers; delete manifests carry forward verbatim. */
  private def rewriteSnapshot(spark: SparkSession, tablePath: String,
      pick: Seq[(IcebergScan.FileEntry, Long)] => Seq[(IcebergScan.FileEntry, Long)],
      targetFiles: Int,
      shape: (DataFrame, Int) => DataFrame, operation: String,
      txn: Option[(String, Long)] = None,
      // true (compact): rewritten files sorted by the table's default
      // sort order + stamped with its id; false (zorder/DML): the shape
      // owns the physical ordering — a table-order sort on top would
      // destroy the z-clustering, and stamping an order the rows don't
      // follow would be a false claim
      honorSortOrder: Boolean = false): (Int, Int) = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val version = prev + 1
    val root = fs.makeQualified(new Path(tablePath))
    requireFreeVersion(fs, root, version)

    val (_, entries) = IcebergScan.currentEntries(spark, tablePath)
    val dataEntries = entries.filter(_.content == 0)
    val sized = dataEntries.map(e => (e, fs.getFileStatus(new Path(e.path)).getLen))
    val small = pick(sized)
    if (small.isEmpty) return (0, 0)
    val victimPaths = small.map(_._1.path).toSet
    val kept = sized.filterNot(s => victimPaths.contains(s._1.path))

    val metaDir0 = new Path(root, "metadata")
    val carry0 = carryFromPrev(fs, metaDir0, prev)
    val partCols = carry0.partCols
    val tableSchema0 = IcebergScan.sparkSchema(
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(carry0.schemaJson))

    // rewrite through the READER so every applicable delete lands in
    // the output — compacting raw parquet would resurrect deleted rows
    val rewrite = IcebergScan.readFiltered(spark, tablePath, scala.None,
      Some(small.map(_._1.path).toSet))
    val shaped = shape(rewrite, targetFiles)
    enforceRequired(shaped, tableSchema0)
    // partitioned tables keep their identity layout: rewritten rows
    // land back in their (possibly NEW, for an UPDATE that moves a
    // partition value) hive directories, so partition pruning and
    // path-derived partition records keep working
    val sortFields =
      if (honorSortOrder) carry0.defaultSortFields else Seq.empty
    val stampSortId =
      if (sortFields.isEmpty) scala.None else Some(carry0.defaultSortOrderId)
    // stage drops empty outputs (every row of the small set may have died)
    val added = TableCommit.stage(fs, root, "data") { staging =>
      // transform fields re-derive their hive value from the (possibly
      // updated) source columns — a partition-migrating UPDATE on a
      // hidden-partitioned table lands its rows in their new derived dirs
      val derived = carry0.partFields.filterNot(_.isIdentity).foldLeft(
        stampFieldIds(shaped, carry0.schemaJson)) { (d, pf) =>
        d.withColumn(pf.specName, IcebergTransforms.columnExpr(pf))
      }
      val sorted =
        if (sortFields.isEmpty) derived
        else derived.sortWithinPartitions(
          (partCols.map(org.apache.spark.sql.functions.col) ++
            sortOrderExprs(sortFields)): _*)
      val writer0 = sorted.write.mode("append")
      (if (partCols.nonEmpty) writer0.partitionBy(partCols: _*) else writer0)
        .parquet(staging)
    }
    val conf = spark.sparkContext.hadoopConfiguration

    val metaDir = new Path(root, "metadata")
    val fmtVersion = prevFormatVersion(fs, metaDir, prev)
    val carry = carry0
    val tableSchema = IcebergScan.sparkSchema(
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(carry.schemaJson))
    val rootPrefix = root.toString.stripSuffix("/") + "/"
    def relOf(abs: String): String =
      if (abs.startsWith(rootPrefix)) abs.substring(rootPrefix.length) else abs

    // ONE rewritten data manifest: ADDED outputs (seq inherits the
    // list row = this commit) + EXISTING kept files with explicit
    // original sequence numbers
    beforeCommit()
    val manifestRel = s"metadata/manifest-$version-${pathNonce()}.avro"
    val recordFields = carry.partFields.map(_.recordField)
    val v3 = fmtVersion >= 3
    val entrySchema = manifestSchemaFor(recordFields, v3 = v3)
    val dataFileSchema = entrySchema.getField("data_file").schema()
    def fileRecord(staged: Staged,
        firstRowId: Option[Long]): GenericData.Record = {
      val f = new GenericData.Record(dataFileSchema)
      f.put("content", 0)
      f.put("file_path", staged.rel)
      f.put("file_format", "PARQUET")
      f.put("partition", partitionRecordOf(dataFileSchema, recordFields, staged.rel))
      f.put("record_count", staged.rows)
      f.put("file_size_in_bytes", staged.size)
      f.put("block_size_in_bytes", DefaultBlockSize)
      stampSortId.foreach(id => f.put("sort_order_id", Integer.valueOf(id)))
      firstRowId.foreach(id => f.put("first_row_id", Long.box(id)))
      attachStats(f, dataFileSchema, staged.footer, carry.schemaJson)
      f
    }
    // v3 row lineage: the rewrite OUTPUTS are new files and receive
    // fresh sequential ids from the table counter (kept files carry
    // their original first_row_id verbatim — stable across rewrites).
    // Known limitation, documented in SCALE.md: graft does not yet
    // thread per-ROW id preservation through a rewrite (spec
    // row-lineage carry-over for replaced rows); ids are valid and
    // never reused, but compacted rows get new ones.
    val addedRowIds: Seq[Option[Long]] =
      if (!v3) added.map(_ => scala.None)
      else added.scanLeft(nextRowIdOf(fs, metaDir, prev))(_ + _.rows)
        .init.map(Some(_))
    val addedRecords = added.zip(addedRowIds).map { case (staged, rowId) =>
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", version.toLong)
      e.put("data_file", fileRecord(staged, rowId))
      e
    }
    // kept files group by their ORIGINAL spec-id: one manifest per
    // spec, each with its own partition-spec-id header and a partition
    // record typed by THAT spec. Folding a pre-evolution file into a
    // manifest stamped with the current spec would null-fill the new
    // transform fields — and a null partition value means "source is
    // null" to external partition evaluators, which would silently
    // prune the file (dropping its rows for any interop reader).
    val keptBySpec = kept.groupBy(_._1.specId)
    def keptEntryRecord(es: Schema, dfs: Schema,
        pfs: Seq[IcebergTransforms.PartField],
        entry: IcebergScan.FileEntry, len: Long): GenericData.Record = {
      val f = new GenericData.Record(dfs)
      f.put("content", 0)
      f.put("file_path", relOf(entry.path))
      f.put("file_format", "PARQUET")
      f.put("partition", partitionRecordFromEntry(dfs, pfs, entry))
      f.put("record_count", entry.rows)
      f.put("file_size_in_bytes", len)
      f.put("block_size_in_bytes", DefaultBlockSize)
      // the kept file's rows don't move — its ordering claim carries
      // forward verbatim
      entry.sortOrderId.foreach(id => f.put("sort_order_id", Integer.valueOf(id)))
      // v3: the kept file's explicitly-assigned row-id range is part of
      // its identity — carried verbatim so its rows' ids never shift
      if (dfs.getField("first_row_id") != null)
        entry.firstRowId.foreach(id => f.put("first_row_id", Long.box(id)))
      attachStats(f, dfs, TableCommit.readFooter(fs, new Path(root, relOf(entry.path))),
        carry.schemaJson)
      val e = new GenericData.Record(es)
      e.put("status", 0) // EXISTING
      e.put("snapshot_id", version.toLong)
      e.put("sequence_number", entry.seq) // original — delete gating intact
      e.put("file_sequence_number", entry.seq)
      e.put("data_file", f)
      e
    }
    val defaultKept = keptBySpec.getOrElse(carry.defaultSpecId, Seq.empty)
    val keptRecords = defaultKept.map { case (entry, len) =>
      keptEntryRecord(entrySchema, dataFileSchema, carry.partFields, entry, len)
    }
    writeAvro(fs, new Path(root, manifestRel), entrySchema,
      addedRecords ++ keptRecords,
      manifestMeta(carry.schemaJson, fmtVersion, content = "data",
        specFieldsJson = carry.specFieldsJson, specId = carry.defaultSpecId))
    val manifestLen = fs.getFileStatus(new Path(root, manifestRel)).getLen
    // one EXISTING-only manifest per historical spec still holding files
    val historicalManifests =
      (keptBySpec - carry.defaultSpecId).toSeq.sortBy(_._1).map {
        case (sid, entries) =>
          val specPartFields = carry.partFieldsFor(sid)
          val es = manifestSchemaFor(specPartFields.map(_.recordField), v3 = v3)
          val dfs = es.getField("data_file").schema()
          val rel = s"metadata/manifest-$version-spec$sid-${pathNonce()}.avro"
          writeAvro(fs, new Path(root, rel), es,
            entries.map { case (entry, len) =>
              keptEntryRecord(es, dfs, specPartFields, entry, len) },
            manifestMeta(carry.schemaJson, fmtVersion, content = "data",
              specFieldsJson = carry.specFieldsJsonFor(sid), specId = sid))
          ManifestRef(rel, fs.getFileStatus(new Path(root, rel)).getLen,
            sid, content = 0, seq = version.toLong,
            minSeq = entries.map(_._1.seq).min, snapshotId = version.toLong,
            addedFiles = 0, existingFiles = entries.size, deletedFiles = 0,
            addedRows = 0L, existingRows = entries.map(_._1.rows).sum,
            deletedRows = 0L)
      }

    // manifest list: the rewritten data manifest + delete manifests
    // carried forward (previous DATA manifests are replaced). FOLDING:
    // a delete manifest older than every surviving data file can never
    // fire again — position deletes need delete.seq >= data.seq and
    // equality deletes strictly > — so it drops here instead of riding
    // every future snapshot; a FULL rewrite (kept empty) folds them all
    // (this is what makes compact() fold merge-on-read deltas away).
    val minKeptDataSeq =
      if (kept.isEmpty) Long.MaxValue else kept.map(_._1.seq).min
    val prevDeleteManifests = readPrevManifests(fs, conf, root, version)
      .filter(m => m.content == 1 && m.seq >= minKeptDataSeq)
    val minSeq = (kept.map(_._1.seq) :+ version.toLong).min
    val listRel = s"metadata/snap-$version-${pathNonce()}.avro"
    writeAvro(fs, new Path(root, listRel), manifestListSchema,
      (ManifestRef(manifestRel, manifestLen, carry.defaultSpecId,
        content = 0, seq = version.toLong, minSeq = minSeq,
        snapshotId = version.toLong,
        addedFiles = addedRecords.size, existingFiles = defaultKept.size,
        deletedFiles = 0,
        addedRows = added.map(_.rows).sum,
        existingRows = defaultKept.map(_._1.rows).sum, deletedRows = 0L) +:
        (historicalManifests ++ prevDeleteManifests)) pipe (rs => listRecords(fs, conf, root, carry, rs)),
      manifestListMeta(version, fmtVersion))

    writeMetadataJson(fs, metaDir, root, version, fmtVersion,
      carry, listRel, operation = operation, propsOverride = txnProps(txn),
      assignedRows = if (!v3) 0L else added.map(_.rows).sum)
    (small.size, added.size)
  }

  /** Row-level UPDATE, copy-on-write (the spec's `overwrite` snapshot):
    * set `assignments` on every current row matching `cond`, rewriting
    * only the data files that hold matching rows. Every SET right-hand
    * side sees the ORIGINAL row values (one projection, SQL UPDATE
    * semantics); rows where `cond` is NULL are not updated; the
    * assignment must preserve the column's type (checked against the
    * table schema, loud otherwise). Victims are planned on the
    * delete-applied lineage view, so rows already dead under an earlier
    * position/equality delete are neither counted nor resurrected —
    * the rewrite reads through [[IcebergScan]], and the rewritten files
    * take this commit's sequence number so older equality deletes never
    * re-apply to them. Untouched files keep their original sequence
    * numbers; time travel to pre-update snapshots keeps working.
    * Returns the number of rows updated.
    *
    * Scale shape: victim location is ONE count+collect_set aggregate
    * (driver state bounded by file count); the rewrite reads only the
    * victim files. Mirrors [[DeltaWrite.updateWhere]]. */
  def updateWhere(spark: SparkSession, tablePath: String,
      cond: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)]): Long = {
    import org.apache.spark.sql.functions._
    require(assignments.nonEmpty, "updateWhere needs at least one SET assignment")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (schema, _) = IcebergScan.currentDataFiles(spark, tablePath)
    val setByName = assignments.toMap
    require(setByName.size == assignments.size, "duplicate SET column")
    assignments.foreach { case (n, _) =>
      require(schema.fieldNames.contains(n),
        s"SET column '$n' is not in the table schema") }

    // table property write.update.mode=merge-on-read → delta commit
    // (position deletes + new images) instead of a victim-file rewrite
    if (tableProperty(spark, tablePath, "write.update.mode")
        .contains("merge-on-read"))
      return updateWhereMor(spark, tablePath, cond, setByName, schema)

    // victims from the DELETE-APPLIED lineage view: a row already dead
    // under an earlier position/equality delete never fires the update.
    // `cond` doubles as the manifest pruner (partition values + column
    // bounds), so victim location never scans files the metadata can
    // prove clean — on a partitioned table an UPDATE touching one
    // partition plans one partition
    val hit = IcebergScan.readWithLineage(spark, tablePath, Some(cond)).filter(cond)
      .agg(count(lit(1)).as("n"),
        collect_set(IcebergScan.normalizePathCol(col("__raw_file"))).as("files"))
      .head() // [lint:bounded] one row: a count and a file-count-bounded set
    val nUpdated = hit.getLong(0)
    if (nUpdated == 0L) return 0L
    val victims = hit.getSeq[String](1).toSet

    val fire = coalesce(cond, lit(false))
    // one projection so every RHS reads pre-update values
    val projected = schema.fieldNames.map { n =>
      setByName.get(n).map(e => when(fire, e).otherwise(col(n)).as(n))
        .getOrElse(col(n))
    }.toSeq
    val (picked, written) = rewriteSnapshot(spark, tablePath,
      pick = { sized =>
        val hits = sized.filter(s => victims.contains(IcebergScan.normalizePath(s._1.path)))
        // a victim the live entries can't name means the path namespaces
        // diverged (the silent-no-op bug class) — corrupt loudly, never quietly
        require(hits.size == victims.size,
          s"victim files ${victims.size} != matched live entries ${hits.size} — " +
            "path namespace mismatch between the lineage view and the manifest")
        hits
      },
      targetFiles = 1,
      shape = { (df, _) =>
        // type-preservation guard BEFORE any file is written (plan-only):
        // a widening coercion in a SET expression would drift the table type
        val probe = df.select(projected: _*).schema
        require(
          probe.fields.map(f => (f.name, f.dataType)).toSeq ==
            schema.fields.map(f => (f.name, f.dataType)).toSeq,
          s"UPDATE changes the schema to ${probe.simpleString} — " +
            s"assignments must preserve the table's ${schema.simpleString}")
        df.select(projected: _*)
      }, operation = "overwrite")
    require(picked > 0 && written > 0,
      s"update rewrite wrote no files (picked=$picked written=$written)")
    nUpdated
  }

  /** MERGE (upsert) by key, copy-on-write (the spec's `overwrite`
    * snapshot): every current row whose key tuple appears in `source`
    * is replaced by the source row; source rows with no match are
    * inserted — rewriting only the data files that hold matched rows.
    * Returns (updatedRows, insertedRows). Source key tuples must be
    * unique (an ambiguous upsert fails loudly); the source schema must
    * match the table's; NULL keys never match (standard equi-join
    * semantics — such source rows insert). Same lineage-view victim
    * planning and sequence-number rules as [[updateWhere]]; with no
    * matched rows the merge degrades to a plain append.
    * Mirrors [[DeltaWrite.merge]]. */
  def merge(spark: SparkSession, tablePath: String, source: DataFrame,
      keys: Seq[String], txn: Option[(String, Long)] = None): (Long, Long) = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "merge needs at least one key column")
    val (schema, _) = IcebergScan.currentDataFiles(spark, tablePath)
    require(
      schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        source.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"merge source schema ${source.schema.simpleString} does not match " +
        s"the table's ${schema.simpleString}")
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"merge key column '$k' is not in the table schema"))

    val src = source.persist()
    try {
      val srcRows = src.count()
      if (srcRows == 0L) return (0L, 0L)
      require(src.groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).limit(1).count() == 0L,
        "merge source has duplicate key tuples — ambiguous upsert")

      // table property write.merge.mode=merge-on-read → equality-delete
      // upsert (delete files + appended source), no table rewrite
      if (tableProperty(spark, tablePath, "write.merge.mode")
          .contains("merge-on-read"))
        return mergeMor(spark, tablePath, src, keys, txn, schema, srcRows)

      val srcK = src.select(keys.map(col): _*)

      val lineage = IcebergScan.readWithLineage(spark, tablePath)
      val hit = lineage.join(srcK, keys, "left_semi")
        .agg(count(lit(1)).as("n"),
          collect_set(IcebergScan.normalizePathCol(col("__raw_file"))).as("files"))
        .head() // [lint:bounded] one row: a count and a file-count-bounded set
      val updated = hit.getLong(0)
      val victims = hit.getSeq[String](1).toSet
      if (victims.isEmpty) { // pure insert: a plain append commit
        appendTxn(spark, src, tablePath, txn)
        return (0L, srcRows)
      }
      // matched rows live only in victim files by construction, so the
      // matched-source-key count scans just those
      val matchedSrc = srcK.join(
        lineage.filter(IcebergScan.normalizePathCol(col("__raw_file"))
            .isInCollection(victims))
          .select(keys.map(col).toSeq: _*), keys, "left_semi").count()
      val inserted = srcRows - matchedSrc

      val cols = schema.fieldNames.map(col).toSeq
      val (picked, written) = rewriteSnapshot(spark, tablePath,
        pick = { sized =>
          val hits = sized.filter(s => victims.contains(IcebergScan.normalizePath(s._1.path)))
          require(hits.size == victims.size,
            s"victim files ${victims.size} != matched live entries ${hits.size} — " +
              "path namespace mismatch between the lineage view and the manifest")
          hits
        },
        targetFiles = 1,
        shape = (df, _) => df.join(srcK, keys, "left_anti").select(cols: _*)
          .unionByName(src.select(cols: _*)),
        operation = "overwrite", txn = txn)
      require(picked > 0 && written > 0,
        s"merge rewrite wrote no files (picked=$picked written=$written)")
      (updated, inserted)
    } finally src.unpersist()
  }

  /** Set/overwrite table properties in a metadata-only commit (no new
    * snapshot — the rollback pattern: clone the previous JSON, merge the
    * properties, CAS the next version). The DML mode switches live here:
    * `write.update.mode` / `write.merge.mode` = `merge-on-read` flips
    * [[updateWhere]] / [[merge]] from copy-on-write rewrites to delta
    * (delete-file) commits. */
  def setProperties(spark: SparkSession, tablePath: String,
      props: Map[String, String]): Unit = {
    require(props.nonEmpty, "setProperties needs at least one property")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val version = prev + 1
    val metaDir = new Path(fs.makeQualified(new Path(tablePath)), "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(readUtf8(fs, new Path(metaDir, s"v$prev.metadata.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val pnode = Option(node.get("properties"))
      .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      .getOrElse(node.putObject("properties"))
    props.foreach { case (k, v) => pnode.put(k, v) }
    node.set[com.fasterxml.jackson.databind.JsonNode]("properties", pnode)
    node.put("last-updated-ms", System.currentTimeMillis())
    publishMetadata(fs, metaDir, version, node.toString)
  }

  /** current value of a table property, if set */
  def tableProperty(spark: SparkSession, tablePath: String,
      key: String): Option[String] = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestVersion(fs, tablePath).flatMap { prev =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readUtf8(fs, new Path(tablePath, s"metadata/v$prev.metadata.json")))
      Option(node.get("properties")).flatMap(p => Option(p.get(key))).map(_.asText())
    }
  }

  // ---- merge-on-read DML -----------------------------------------------

  /** Merge-on-read UPDATE: instead of rewriting victim files, ONE
    * snapshot commits (a) position-delete files naming every matched
    * row and (b) new data files holding the updated row images —
    * write cost O(matched rows), not O(victim-file bytes), the spec's
    * high-churn path. New data files take this commit's sequence
    * number, so the commit's own position deletes (which name only OLD
    * file paths) and every earlier equality delete leave them intact.
    * Reads apply the deltas; [[compact]] folds them away. Same
    * lineage-view planning, projection semantics, and type guard as
    * the copy-on-write path. */
  private def updateWhereMor(spark: SparkSession, tablePath: String,
      cond: org.apache.spark.sql.Column,
      setByName: Map[String, org.apache.spark.sql.Column],
      tableSchema: StructType): Long = {
    import org.apache.spark.sql.functions._
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val version = prev + 1
    val root = fs.makeQualified(new Path(tablePath))
    val metaDir = new Path(root, "metadata")
    val carry = carryFromPrev(fs, metaDir, prev)
    val (_, plannedLive) = IcebergScan.currentDataFiles(spark, tablePath)

    // ONE persisted matched-row set feeds both halves of the commit —
    // the delete positions and the new images must name the same rows
    val matched = IcebergScan.readWithLineage(spark, tablePath, Some(cond))
      .filter(cond).persist()
    try {
      // v3: the kill side is a deletion vector per victim file; v2:
      // parquet position-delete files. Same victims either way.
      val fmtV = prevFormatVersion(fs, metaDir, prev)
      val dvStaged: Option[(Seq[DvStaged], Map[String, (String, Long, Long)])] =
        if (fmtV < 3) scala.None
        else {
          val (_, entries) = IcebergScan.currentEntries(spark, tablePath)
          val existingDv = dvByRefFile(entries)
          Some((stageDeletionVectors(spark, fs, root,
            matched.select(col("__raw_file"), col("__pos")), existingDv,
            version), existingDv))
        }
      val delWithRows = if (dvStaged.isDefined) Seq.empty
        else stagePositionDeletes(spark, fs, root, tablePath,
          matched.select(col("__raw_file"), col("__pos")), version,
          carry.partFields.map(_.recordField))
      val nUpdated = dvStaged.map(_._1.map(_.newRows).sum)
        .getOrElse(delWithRows.map(_.rows).sum)
      if (nUpdated == 0L) return 0L

      val fire = coalesce(cond, lit(false)) // all matched, but keep UPDATE semantics
      val projected = tableSchema.fieldNames.map { n =>
        setByName.get(n).map(e => when(fire, e).otherwise(col(n)).as(n))
          .getOrElse(col(n))
      }.toSeq
      val shaped = matched.select(projected: _*)
      require(
        shaped.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
          tableSchema.fields.map(f => (f.name, f.dataType)).toSeq,
        s"UPDATE changes the schema to ${shaped.schema.simpleString} — " +
          s"assignments must preserve the table's ${tableSchema.simpleString}")
      enforceRequired(shaped, tableSchema)
      val dataWithRows = stageData(spark, fs, root, carry, shaped)
      require(dataWithRows.map(_.rows).sum == nUpdated,
        s"MOR update wrote ${dataWithRows.map(_.rows).sum} new rows for " +
          s"$nUpdated deleted positions — aborting before commit")

      dvStaged match {
        case Some((staged, seen)) =>
          commitDvFold(spark, fs, root, metaDir, tablePath, carry,
            plannedLive.toSet, version, staged, seen,
            operation = "overwrite", dropParquetPos = false,
            newData = dataWithRows)
        case scala.None =>
          commitMorSnapshot(spark, fs, root, metaDir, tablePath, carry,
            plannedLive.toSet, version, "overwrite", txn = scala.None,
            tableSchema, dataWithRows, posDeletes = delWithRows,
            eqDeletes = scala.None)
      }
      nUpdated
    } finally matched.unpersist()
  }

  /** Merge-on-read MERGE (upsert): ONE snapshot commits (a) a GLOBAL
    * equality delete on the key columns for every non-NULL-key source
    * tuple and (b) data files holding ALL source rows — write cost
    * O(source), with NO table rewrite at all. Read-time sequence rules
    * do the work: the delete (seq = this commit) kills matching rows
    * in every STRICTLY older file, while this commit's own data files
    * are immune — exactly upsert. A concurrent append that slips in
    * between planning and commit is ALSO upserted (its matching rows
    * die under the delete's higher sequence number) — the serial
    * winner-first order, the same CDC-upsert semantics as
    * [[deleteEqual]]; the returned counts describe the PLANNED
    * snapshot. NULL-key source rows insert without deleting (NULL
    * keys never match, but an equality delete is null-safe — they must
    * stay out of the key set). */
  private def mergeMor(spark: SparkSession, tablePath: String,
      src: DataFrame, keys: Seq[String], txn: Option[(String, Long)],
      tableSchema: StructType, srcRows: Long): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val version = prev + 1
    val root = fs.makeQualified(new Path(tablePath))
    val metaDir = new Path(root, "metadata")
    val carry = carryFromPrev(fs, metaDir, prev)

    // counts against the planned snapshot (one pass over the pruned
    // lineage view): updated = live rows a source key hits
    val srcK = src.select(keys.map(col): _*)
    val lineage = IcebergScan.readWithLineage(spark, tablePath)
    val updated = lineage.select(keys.map(col).toSeq: _*)
      .join(srcK, keys, "left_semi").count()
    val matchedSrc = srcK.join(lineage.select(keys.map(col).toSeq: _*),
      keys, "left_semi").count()
    val inserted = srcRows - matchedSrc

    // the equality-delete key set: distinct non-NULL-key source tuples
    val nonNull = keys.map(col(_).isNotNull).reduce(_ && _)
    val (delWithRows, eqIds) = stageEqualityDeletes(spark, fs, root,
      src.filter(nonNull).select(keys.map(col): _*), version, carry, tablePath)

    enforceRequired(src, tableSchema)
    val dataWithRows = stageData(spark, fs, root, carry,
      src.select(tableSchema.fieldNames.map(col).toSeq: _*))
    require(dataWithRows.map(_.rows).sum == srcRows,
      s"MOR merge wrote ${dataWithRows.map(_.rows).sum} rows for a " +
        s"$srcRows-row source — aborting before commit")

    // equality deletes reference KEYS, not files: commute with any
    // winner that keeps schema + spec (plannedLive empty, like
    // deleteEqual) — the serial order is winner-first by construction
    commitMorSnapshot(spark, fs, root, metaDir, tablePath, carry,
      plannedLive = Set.empty, version, "overwrite", txn,
      tableSchema, dataWithRows, posDeletes = Seq.empty,
      eqDeletes = if (delWithRows.isEmpty) scala.None
                  else Some((delWithRows, eqIds)),
      // v3 keeps equality deletes; only the metadata/manifest format
      // version and row-id accounting change
      fmtVersion = math.max(2, prevFormatVersion(fs, metaDir, prev)))
    (updated, inserted)
  }

  /** stage the merge-on-read row images: field ids stamped, transform
    * partition values derived, clustered by partition columns (files =
    * touched partitions, not tasks x partitions — see the append path) */
  private def stageData(spark: SparkSession, fs: FileSystem, root: Path,
      carry: SchemaCarry, rows: DataFrame): Seq[Staged] =
    TableCommit.stage(fs, root, "data") { staging =>
      val partCols = carry.partCols
      val derived = carry.partFields.filterNot(_.isIdentity).foldLeft(
        stampFieldIds(rows, carry.schemaJson)) { (d, pf) =>
        d.withColumn(pf.specName, IcebergTransforms.columnExpr(pf))
      }
      val clustered = WriteLayout.clusterByPartitions(spark, derived, partCols)
      val w = clustered.write.mode("append")
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(staging)
    }

  /** ONE snapshot carrying a data manifest (ADDED files, seq = this
    * commit) plus up to one position-delete and one equality-delete
    * manifest at the same sequence number — the merge-on-read commit
    * shape. OCC semantics delegate to [[commitWithRetry]]:
    * assembly (manifests + list + metadata JSON) retries at successive
    * versions while the winner commutes; the staged parquet is reused
    * verbatim. */
  private def commitMorSnapshot(spark: SparkSession, fs: FileSystem,
      root: Path, metaDir: Path, tablePath: String, carry: SchemaCarry,
      plannedLive: Set[String], version: Int, operation: String,
      txn: Option[(String, Long)], tableSchema: StructType,
      dataWithRows: Seq[Staged],
      posDeletes: Seq[Staged],
      eqDeletes: Option[(Seq[Staged], Seq[Int])],
      fmtVersion: Int = 2): Unit = {
    require(dataWithRows.nonEmpty, "MOR commit with no data files")
    require(fmtVersion < 3 || posDeletes.isEmpty,
      "format-version 3 forbids parquet position-delete files — the MOR " +
        "caller must stage deletion vectors (commitDvFold) instead")
    val conf = spark.sparkContext.hadoopConfiguration
    def assemble(v: Int, c: SchemaCarry): Unit = {
      val recordFields = c.partFields.map(_.recordField)
      val entrySchema = manifestSchemaFor(recordFields, v3 = fmtVersion >= 3)
      val dataFileSchema = entrySchema.getField("data_file").schema()

      // data manifest (v3: explicit sequential first_row_id per file)
      val dataRowIds: Seq[Option[Long]] =
        if (fmtVersion < 3) dataWithRows.map(_ => scala.None)
        else dataWithRows.scanLeft(nextRowIdOf(fs, metaDir, v - 1))(_ + _.rows)
          .init.map(Some(_))
      val dataRel = s"metadata/manifest-$v-${pathNonce()}.avro"
      writeAvro(fs, new Path(root, dataRel), entrySchema,
        dataWithRows.zip(dataRowIds).map { case (staged, rowId) =>
          val file = new GenericData.Record(dataFileSchema)
          file.put("content", 0)
          file.put("file_path", staged.rel)
          file.put("file_format", "PARQUET")
          file.put("partition",
            partitionRecordOf(dataFileSchema, recordFields, staged.rel))
          file.put("record_count", staged.rows)
          file.put("file_size_in_bytes", staged.size)
          file.put("block_size_in_bytes", DefaultBlockSize)
          rowId.foreach(id => file.put("first_row_id", Long.box(id)))
          attachStats(file, dataFileSchema, staged.footer, c.schemaJson)
          val entry = new GenericData.Record(entrySchema)
          entry.put("status", 1) // ADDED
          entry.put("snapshot_id", v.toLong)
          entry.put("data_file", file)
          entry
        }, manifestMeta(c.schemaJson, fmtVersion, content = "data",
          specFieldsJson = c.specFieldsJson, specId = c.defaultSpecId))
      val dataRef = ManifestRef(dataRel,
        fs.getFileStatus(new Path(root, dataRel)).getLen, c.defaultSpecId,
        content = 0, seq = v.toLong, minSeq = v.toLong, snapshotId = v.toLong,
        addedFiles = dataWithRows.size, existingFiles = 0, deletedFiles = 0,
        addedRows = dataWithRows.map(_.rows).sum, existingRows = 0L,
        deletedRows = 0L)

      // position-delete manifest (partition-scoped entries)
      val posRef = if (posDeletes.isEmpty) scala.None else {
        val rel = s"metadata/manifest-$v-${pathNonce()}.avro"
        writeAvro(fs, new Path(root, rel), entrySchema,
          posDeletes.map { d =>
            val file = new GenericData.Record(dataFileSchema)
            file.put("content", 1) // POSITION DELETES
            file.put("file_path", d.rel)
            file.put("file_format", "PARQUET")
            file.put("partition",
              partitionRecordOf(dataFileSchema, recordFields, d.rel))
            file.put("record_count", d.rows)
            file.put("file_size_in_bytes", d.size)
            file.put("block_size_in_bytes", DefaultBlockSize)
            val entry = new GenericData.Record(entrySchema)
            entry.put("status", 1)
            entry.put("snapshot_id", v.toLong)
            entry.put("data_file", file)
            entry
          }, manifestMeta(c.schemaJson, fmtVersion, content = "deletes",
            specFieldsJson = c.specFieldsJson, specId = c.defaultSpecId))
        Some(ManifestRef(rel, fs.getFileStatus(new Path(root, rel)).getLen, c.defaultSpecId,
          content = 1, seq = v.toLong, minSeq = v.toLong, snapshotId = v.toLong,
          addedFiles = posDeletes.size, existingFiles = 0, deletedFiles = 0,
          addedRows = posDeletes.map(_.rows).sum, existingRows = 0L,
          deletedRows = 0L))
      }

      // equality-delete manifest (GLOBAL — unpartitioned spec)
      val eqRef = eqDeletes.map { case (dels, eqIds) =>
        val rel = s"metadata/manifest-$v-${pathNonce()}.avro"
        val globalSpecId = c.emptySpecId
        val gSchema = manifestSchema.getField("data_file").schema()
        writeAvro(fs, new Path(root, rel), manifestSchema,
          dels.map { d =>
            val file = new GenericData.Record(gSchema)
            file.put("content", 2) // EQUALITY DELETES
            file.put("file_path", d.rel)
            file.put("file_format", "PARQUET")
            file.put("partition",
              new GenericData.Record(gSchema.getField("partition").schema()))
            file.put("record_count", d.rows)
            file.put("file_size_in_bytes", d.size)
            file.put("block_size_in_bytes", DefaultBlockSize)
            file.put("equality_ids", eqIds.map(Int.box).asJava)
            val entry = new GenericData.Record(manifestSchema)
            entry.put("status", 1)
            entry.put("snapshot_id", v.toLong)
            entry.put("data_file", file)
            entry
          }, manifestMeta(c.schemaJson, fmtVersion, content = "deletes",
            specId = globalSpecId))
        ManifestRef(rel, fs.getFileStatus(new Path(root, rel)).getLen,
          globalSpecId, content = 1, seq = v.toLong, minSeq = v.toLong,
          snapshotId = v.toLong, addedFiles = dels.size, existingFiles = 0,
          deletedFiles = 0, addedRows = dels.map(_.rows).sum,
          existingRows = 0L, deletedRows = 0L)
      }

      val prevManifests = readPrevManifests(fs, conf, root, v)
      val listRel = s"metadata/snap-$v-${pathNonce()}.avro"
      writeAvro(fs, new Path(root, listRel), manifestListSchema,
        (prevManifests ++ Seq(dataRef) ++ posRef.toSeq ++ eqRef.toSeq) pipe (rs => listRecords(fs, conf, root, c, rs)),
        manifestListMeta(v, fmtVersion))
      writeMetadataJson(fs, metaDir, root, v, fmtVersion,
        c, listRel, operation = operation, propsOverride = txnProps(txn),
        assignedRows = if (fmtVersion < 3) 0L else dataWithRows.map(_.rows).sum)
    }
    commitWithRetry(spark, fs, root, tablePath, operation, carry, version,
      plannedLive)(assemble)
  }

  /** ROLLBACK: re-point `current-snapshot-id` at an earlier snapshot
    * in a NEW metadata version — pure metadata, no data movement, and
    * every snapshot (including the rolled-back-over ones) stays
    * time-travelable until [[expireSnapshots]]. Later appends chain
    * onto the restored snapshot's manifest list (the commit path
    * resolves the previous list through the metadata pointer, never by
    * file-name convention). */
  def rollback(spark: SparkSession, tablePath: String, snapshotId: Long): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val version = prev + 1
    val root = fs.makeQualified(new Path(tablePath))
    val metaDir = new Path(root, "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(readUtf8(fs, new Path(metaDir, s"v$prev.metadata.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val ids = Option(node.get("snapshots")).map(_.elements().asScala
      .map(_.get("snapshot-id").asLong()).toSeq).getOrElse(Seq.empty)
    require(ids.contains(snapshotId),
      s"snapshot $snapshotId not found in $tablePath (have ${ids.mkString(",")})")
    node.put("current-snapshot-id", snapshotId)
    node.put("last-updated-ms", System.currentTimeMillis())
    publishMetadata(fs, metaDir, version, node.toString)
  }

  /** TAG a snapshot (the spec's `refs` map, type=tag): a named,
    * immutable pointer — `IcebergScan.readRef` resolves it, and
    * [[expireSnapshots]] never expires a ref-pinned snapshot. One
    * metadata-only version bump; tagging the same name twice refuses
    * (drop it first), tagging a missing snapshot refuses. */
  def tagSnapshot(spark: SparkSession, tablePath: String,
      name: String, snapshotId: Long): Unit =
    editRefs(spark, tablePath, s"tag($name)") { (mapper, refs, snapIds) =>
      require(snapIds.contains(snapshotId),
        s"snapshot $snapshotId not found in $tablePath (have ${snapIds.mkString(",")})")
      require(!refs.has(name), s"ref '$name' already exists — dropRef first")
      refs.set[com.fasterxml.jackson.databind.JsonNode](name, mapper.readTree(
        s"""{"snapshot-id":$snapshotId,"type":"tag"}"""))
      ()
    }

  /** APPEND TO A BRANCH (the spec's write-audit-publish workflow): the
    * new snapshot chains onto the BRANCH head (first branch commit
    * branches from the current snapshot), `refs[branch]` advances, and
    * the main table (`current-snapshot-id`) is untouched — readers of
    * the table see nothing until [[fastForward]] publishes the branch.
    * `IcebergScan.readRef(branch)` is the audit read. Branch heads are
    * expiry-pinned like tags. Row-level DML stays a main-branch
    * operation (audit data by reading the ref). */
  def appendToBranch(spark: SparkSession, df: DataFrame, tablePath: String,
      branch: String, txn: Option[(String, Long)] = scala.None): Unit = {
    require(branch != "main", "'main' IS the table — use append")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    // same schema guard as plain append — a branch must not drift
    val prevMeta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readUtf8(fs, new Path(tablePath, s"metadata/v$prev.metadata.json")))
    val declared = IcebergScan.sparkSchema(prevMeta.get("schema"))
    require(
      declared.fields.map(f => (f.name, f.dataType)).toSeq ==
        df.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"branch append schema ${df.schema.simpleString} does not match the " +
        s"table's ${declared.simpleString}")
    // an existing ref named like the branch must BE a branch (never
    // silently advance a tag)
    Option(prevMeta.get("refs")).flatMap(r => Option(r.get(branch))).foreach { ref =>
      require(ref.get("type").asText() == "branch",
        s"ref '$branch' is a ${ref.get("type").asText()}, not a branch")
    }
    commit(spark, fs, df, tablePath, version = prev + 1, branch = Some(branch),
      txn = txn)
  }

  /** PUBLISH a branch: re-point `current-snapshot-id` at the branch
    * head (metadata-only — the WAP publish step). The branch ref stays;
    * later branch appends keep chaining from its head. */
  def fastForward(spark: SparkSession, tablePath: String, branch: String): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val metaDir = new Path(fs.makeQualified(new Path(tablePath)), "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(readUtf8(fs, new Path(metaDir, s"v$prev.metadata.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val head = Option(node.get("refs")).flatMap(r => Option(r.get(branch)))
      .getOrElse(throw new IllegalArgumentException(
        s"no branch '$branch' at $tablePath"))
    require(head.get("type").asText() == "branch",
      s"ref '$branch' is a ${head.get("type").asText()}, not a branch")
    // REFUSE a non-fast-forward publish: if main advanced past the
    // branching point, re-pointing would silently DROP main's newer
    // rows (the branch never saw them). Re-stage the branch instead.
    val currentId = Option(node.get("current-snapshot-id")).map(_.asLong()).getOrElse(-1L)
    val branchBase = Option(head.get("graft-base")).map(_.asLong())
    branchBase.foreach(b => require(currentId == b,
      s"cannot fast-forward '$branch': the table advanced from snapshot $b " +
        s"to $currentId since the branch was created — publishing would drop " +
        "those rows; re-stage the branch from the current state"))
    node.put("current-snapshot-id", head.get("snapshot-id").asLong())
    // RE-BASE the ref at the published head: current-snapshot-id now equals
    // the branch head, so the branching point moves with it. Without this a
    // second stage→publish cycle would compare current (== this head) to the
    // ORIGINAL graft-base and spuriously refuse — stranding staged batches
    // whose txn markers already read committed.
    head.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("graft-base", head.get("snapshot-id").asLong())
    node.put("last-updated-ms", System.currentTimeMillis())
    publishMetadata(fs, metaDir, prev + 1, node.toString)
  }

  /** drop a named ref (tag); the snapshot itself stays until
    * [[expireSnapshots]] */
  def dropRef(spark: SparkSession, tablePath: String, name: String): Unit =
    editRefs(spark, tablePath, s"dropRef($name)") { (_, refs, _) =>
      require(refs.has(name), s"no ref '$name' at $tablePath")
      refs.remove(name); ()
    }

  private def editRefs(spark: SparkSession, tablePath: String, op: String)(
      edit: (com.fasterxml.jackson.databind.ObjectMapper,
             com.fasterxml.jackson.databind.node.ObjectNode,
             Seq[Long]) => Unit): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val version = prev + 1
    val metaDir = new Path(fs.makeQualified(new Path(tablePath)), "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(readUtf8(fs, new Path(metaDir, s"v$prev.metadata.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val snapIds = Option(node.get("snapshots")).map(_.elements().asScala
      .map(_.get("snapshot-id").asLong()).toSeq).getOrElse(Seq.empty)
    val refs = Option(node.get("refs"))
      .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      .getOrElse(mapper.createObjectNode())
    edit(mapper, refs, snapIds)
    node.set[com.fasterxml.jackson.databind.JsonNode]("refs", refs)
    node.put("last-updated-ms", System.currentTimeMillis())
    publishMetadata(fs, metaDir, version, node.toString)
  }

  /** every path a snapshot pins: its manifest list, its manifests, and
    * every data/delete file they name (all resolved absolute) */
  private def snapshotFootprint(fs: FileSystem,
      conf: org.apache.hadoop.conf.Configuration, root: Path,
      snapshot: com.fasterxml.jackson.databind.JsonNode):
      (String, Seq[String], Seq[String]) = {
    def abs(p: String): String =
      if (p.contains("://") || p.startsWith("/")) fs.makeQualified(new Path(p)).toString
      else fs.makeQualified(new Path(root, p)).toString
    val listAbs = abs(snapshot.get("manifest-list").asText())
    val manifests = readAvro(fs, conf, new Path(listAbs))
      .map(r => abs(r.get("manifest_path").toString))
    val files = manifests.flatMap { mp =>
      readAvro(fs, conf, new Path(mp)).map { e =>
        abs(e.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString)
      }
    }
    (listAbs, manifests, files)
  }

  /** EXPIRE SNAPSHOTS: drop all but the newest `keepLast` snapshots
    * from the metadata and physically delete every file (data, delete,
    * manifest, manifest list) referenced ONLY by the expired ones —
    * the Iceberg twin of [[DeltaWrite.vacuum]]. The current snapshot
    * is always kept. Time travel to expired snapshots stops working,
    * exactly as in Iceberg proper. Returns (snapshotsExpired,
    * filesDeleted). Driver-side METADATA work: the footprint walk
    * reads manifests (KBs), never data. */
  def expireSnapshots(spark: SparkSession, tablePath: String,
      keepLast: Int = 1): (Int, Seq[String]) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val version = prev + 1
    val root = fs.makeQualified(new Path(tablePath))
    val metaDir = new Path(root, "metadata")
    val conf = spark.sparkContext.hadoopConfiguration
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(readUtf8(fs, new Path(metaDir, s"v$prev.metadata.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val snaps = Option(node.get("snapshots")).map(_.elements().asScala.toSeq)
      .getOrElse(Seq.empty)
    if (snaps.size <= keepLast) return (0, Seq.empty)
    val currentId = Option(node.get("current-snapshot-id")).map(_.asLong())
      .getOrElse(-1L)
    val sorted = snaps.sortBy(_.get("snapshot-id").asLong())
    val (expired0, kept0) = sorted.splitAt(sorted.size - keepLast)
    // the current snapshot and every REF-PINNED snapshot (tags) are
    // never expired, whatever their position
    val pinned: Set[Long] = Option(node.get("refs"))
      .map(_.properties().asScala.map(_.getValue.get("snapshot-id").asLong()).toSet)
      .getOrElse(Set.empty)
    def protectedSnap(s: com.fasterxml.jackson.databind.JsonNode): Boolean = {
      val id = s.get("snapshot-id").asLong(); id == currentId || pinned(id)
    }
    val (kept, expired) = (
      kept0 ++ expired0.filter(protectedSnap), expired0.filterNot(protectedSnap))
    if (expired.isEmpty) return (0, Seq.empty)

    val keptFp = kept.map(snapshotFootprint(fs, conf, root, _))
    val live: Set[String] =
      (keptFp.map(_._1) ++ keptFp.flatMap(_._2) ++ keptFp.flatMap(_._3)).toSet
    val expFp = expired.map(snapshotFootprint(fs, conf, root, _))
    val doomed = (expFp.map(_._1) ++ expFp.flatMap(_._2) ++ expFp.flatMap(_._3))
      .distinct.filterNot(live.contains)

    // commit the trimmed metadata FIRST (readers re-resolving the hint
    // never see a snapshot whose files are already gone), then delete
    val keptArr = mapper.createArrayNode()
    kept.sortBy(_.get("snapshot-id").asLong()).foreach(keptArr.add)
    node.set("snapshots", keptArr)
    node.put("last-updated-ms", System.currentTimeMillis())
    publishMetadata(fs, metaDir, version, node.toString)
    doomed.foreach(p => fs.delete(new Path(p), false))
    (expired.size, doomed)
  }

  /** ORPHAN-FILE CLEANUP (the `removeOrphanFiles` maintenance action):
    * finds every `.parquet` under `data/`, every `.avro` under
    * `metadata/`, and every crashed-job `_temporary` attempt file that
    * NO snapshot in the current metadata references — crashed writes,
    * lost OCC attempts, abandoned staging — and returns them;
    * `dryRun=false` also deletes them, plus crashed writers' stale
    * `.staging-*` dirs ([[TableCommit.sweepStaleStaging]], the same
    * age guard). DRY-RUN BY DEFAULT, and only
    * files older than `olderThanMs` (default 3 days, Iceberg's own
    * default) are candidates: an in-flight writer's staged-but-not-yet-
    * committed files (the append OCC path re-commits staged parquet
    * verbatim) must never be swept mid-commit — pass 0 only on a table
    * you know has no concurrent writers. The referenced set is the
    * union of every snapshot's footprint (manifest list, manifests,
    * data + delete files), so time travel, tags, and branch heads all
    * stay intact — the safety mirror of [[DeltaWrite.vacuum]].
    * Metadata JSONs and the version hint are never candidates. Driver-
    * side metadata work: the footprint walk reads manifests (KBs) and
    * a directory listing, never data. */
  def removeOrphanFiles(spark: SparkSession, tablePath: String,
      olderThanMs: Long = 3L * 24 * 3600 * 1000,
      dryRun: Boolean = true): Seq[String] = {
    require(olderThanMs >= 0, s"olderThanMs must be >= 0, got $olderThanMs")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val root = fs.makeQualified(new Path(tablePath))
    val metaDir = new Path(root, "metadata")
    val conf = spark.sparkContext.hadoopConfiguration
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readUtf8(fs, new Path(metaDir, s"v$prev.metadata.json")))
    val snaps = Option(node.get("snapshots")).map(_.elements().asScala.toSeq)
      .getOrElse(Seq.empty)
    val referenced: Set[String] = snaps.flatMap { s =>
      val (list, manifests, files) = snapshotFootprint(fs, conf, root, s)
      (list +: manifests) ++ files
    }.toSet

    val cutoff = System.currentTimeMillis() - olderThanMs
    def candidatesUnder(dir: Path, keep: String => Boolean): Seq[String] = {
      if (!fs.exists(dir)) return Seq.empty
      val out = Seq.newBuilder[String]
      val it = fs.listFiles(dir, true)
      while (it.hasNext) {
        val st = it.next()
        val p = st.getPath.toString
        val isTempAttempt = p.contains("/_temporary/")
        if ((keep(p) || isTempAttempt) && st.getModificationTime < cutoff &&
            !referenced.contains(p))
          out += p
      }
      out.result()
    }
    val orphans =
      candidatesUnder(new Path(root, "data"), _.endsWith(".parquet")) ++
        candidatesUnder(metaDir, _.endsWith(".avro"))
    if (!dryRun) {
      orphans.foreach(p => fs.delete(new Path(p), false))
      TableCommit.sweepStaleStaging(fs, root, cutoff)
    }
    orphans
  }

  /** spec-required key-value metadata on a manifest Avro file — what
    * external readers use to interpret it without the table metadata */
  private def manifestMeta(schemaJson: String, fmtVersion: Int,
      content: String, specFieldsJson: String = "[]",
      specId: Int = 0): Seq[(String, String)] =
    Seq(
      "schema" -> schemaJson,
      "schema-id" -> "0",
      "partition-spec" -> specFieldsJson,
      "partition-spec-id" -> specId.toString,
      "format-version" -> fmtVersion.toString,
      "content" -> content)

  private def manifestListMeta(version: Int, fmtVersion: Int): Seq[(String, String)] =
    Seq(
      "snapshot-id" -> version.toString,
      "parent-snapshot-id" -> (if (version == 1) "null" else (version - 1).toString),
      "sequence-number" -> version.toString,
      "format-version" -> fmtVersion.toString)

  /** shared metadata-JSON commit tail, published by
    * [[publishMetadata]] (two writers racing to the same version fail
    * loudly there, first creator wins). v2 metadata
    * additionally carries last-sequence-number / schemas /
    * partition-specs / sort-orders and a per-snapshot sequence-number
    * (= the version — one commit, one sequence). */
  private def writeMetadataJson(fs: FileSystem, metaDir: Path, root: Path,
      version: Int, fmtVersion: Int, carry: SchemaCarry,
      listRel: String, operation: String,
      propsOverride: Map[String, String] = Map.empty,
      branchRef: Option[String] = scala.None,
      // v3 row lineage: rows assigned FRESH row ids by this snapshot
      // (added data rows without an inherited first_row_id). The
      // snapshot's first-row-id = the table's next-row-id before the
      // commit; next-row-id advances by exactly this count
      assignedRows: Long = 0L): Unit = {
    val now = System.currentTimeMillis()
    val (prevSnapshots, prevProps, prevRefs, prevCurrentId, prevNextRowId,
        prevStatistics, prevPartStatistics)
        : (String, Map[String, String], Option[String], Long, Long,
           Option[String], Option[String]) =
      if (version == 1) ("", Map.empty, scala.None, -1L, 0L, scala.None, scala.None)
      else {
        // carry prior snapshots, table properties AND refs forward from
        // the previous metadata JSON (properties hold the streaming-
        // sink txn markers, refs hold tags — both must survive commits
        // and snapshot expiry)
        val prevMeta = readUtf8(fs, new Path(metaDir, s"v${version - 1}.metadata.json"))
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(prevMeta)
        val props = Option(node.get("properties")).map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty[String, String])
        (node.get("snapshots").elements().asScala
          .map(_.toString).mkString("", ",", ","), props,
          Option(node.get("refs")).map(_.toString),
          Option(node.get("current-snapshot-id")).map(_.asLong()).getOrElse(-1L),
          // absent pre-upgrade: a table upgraded to v3 starts ids at 0
          // (pre-upgrade snapshots carry no first-row-id, so their rows
          // never receive derived ids — no collision with fresh ranges)
          Option(node.get("next-row-id")).map(_.asLong()).getOrElse(0L),
          // `statistics` / `partition-statistics` entries are snapshot-
          // scoped and must survive unrelated commits, same as refs
          // (IcebergNdv / IcebergPartitionStats register them)
          Option(node.get("statistics")).map(_.toString),
          Option(node.get("partition-statistics")).map(_.toString))
      }
    val propsJson = (prevProps ++ propsOverride).toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString(",")
    val nSpecFields = specColNames(carry.specFieldsJson).size
    // a partitioned v2 table also registers the UNPARTITIONED spec-id 1
    // — the spec global equality deletes commit under. An EVOLVED table
    // carries its full spec history + default id forward verbatim.
    val specsJson =
      if (carry.allSpecsJson.nonEmpty) carry.allSpecsJson
      else if (nSpecFields == 0) s"""[{"spec-id":0,"fields":${carry.specFieldsJson}}]"""
      else s"""[{"spec-id":0,"fields":${carry.specFieldsJson}},{"spec-id":1,"fields":[]}]"""
    val lastPartitionId = {
      val ids = new com.fasterxml.jackson.databind.ObjectMapper().readTree(specsJson)
        .elements().asScala.flatMap(_.get("fields").elements().asScala)
        .map(f => f.get("field-id").asInt()).toSeq
      if (ids.isEmpty) 999 else ids.max
    }
    val sortOrdersJson =
      if (carry.sortOrdersJson.nonEmpty) carry.sortOrdersJson
      else """[{"order-id":0,"fields":[]}]"""
    val v2Extra =
      if (fmtVersion < 2) ""
      else s""""last-sequence-number":$version,"schemas":${carry.schemasArray},
              |"current-schema-id":${carry.currentSchemaId},
              |"partition-specs":$specsJson,"default-spec-id":${carry.defaultSpecId},
              |"last-partition-id":$lastPartitionId,
              |"sort-orders":$sortOrdersJson,
              |"default-sort-order-id":${carry.defaultSortOrderId},"""
        .stripMargin
    val snapSeq = if (fmtVersion < 2) "" else s""""sequence-number":$version,"""
    // v3 row lineage (spec §Row Lineage): every v3 snapshot declares its
    // first-row-id; the table's next-row-id advances monotonically by the
    // rows this snapshot assigned. Ids are never reused — a rollback
    // leaves next-row-id where it was
    val v3Extra = if (fmtVersion < 3) ""
      else s""""next-row-id":${prevNextRowId + assignedRows},"""
    val snapRowId = if (fmtVersion < 3) ""
      else s""""first-row-id":$prevNextRowId,"added-rows":$assignedRows,"""
    // a branch commit advances ITS ref and leaves main (current) alone;
    // the ref records its BRANCHING POINT (graft-base, set once at the
    // first branch commit) so fastForward can refuse a diverged main
    val refsJson = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val base = prevRefs.map(mapper.readTree)
        .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
        .getOrElse(mapper.createObjectNode())
      branchRef.foreach { b =>
        val branchBase = Option(base.get(b))
          .flatMap(r => Option(r.get("graft-base"))).map(_.asLong())
          .getOrElse(prevCurrentId)
        base.set[com.fasterxml.jackson.databind.JsonNode](
          b, mapper.readTree(s"""{"snapshot-id":$version,"type":"branch","graft-base":$branchBase}"""))
      }
      if (base.isEmpty) "" else s""""refs":${base.toString},"""
    }
    val newCurrentId = if (branchRef.isEmpty) version.toLong else prevCurrentId
    val statsJson = prevStatistics.map(s => s""""statistics":$s,""").getOrElse("") +
      prevPartStatistics.map(s => s""""partition-statistics":$s,""").getOrElse("")
    val meta =
      s"""{"format-version":$fmtVersion,"table-uuid":"${carry.tableUuid}",
         |"location":${jstr(root.toString)},"last-updated-ms":$now,
         |"last-column-id":${carry.lastColumnId},
         |$v2Extra$v3Extra
         |$refsJson$statsJson"schema":${carry.schemaJson},
         |"partition-spec":${carry.specFieldsJson},"properties":{$propsJson},
         |"current-snapshot-id":$newCurrentId,
         |"snapshots":[$prevSnapshots{"snapshot-id":$version,$snapSeq$snapRowId
         |"timestamp-ms":$now,"summary":{"operation":${jstr(operation)}},
         |"manifest-list":${jstr(listRel)}}]}"""
        .stripMargin.replaceAll("\n", "")
    publishMetadata(fs, metaDir, version, meta)
  }

  /** the table's v3 row-id counter after version `prev` (0 before the
    * first v3 commit — see [[upgradeFormatVersion]]) */
  private def nextRowIdOf(fs: FileSystem, metaDir: Path, prev: Int): Long =
    Option(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readUtf8(fs, new Path(metaDir, s"v$prev.metadata.json")))
      .get("next-row-id")).map(_.asLong()).getOrElse(0L)

  private def prevFormatVersion(fs: FileSystem, metaDir: Path, prev: Int): Int = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readUtf8(fs, new Path(metaDir, s"v$prev.metadata.json")))
    Option(node.get("format-version")).map(_.asInt()).getOrElse(1)
  }

  /** a full v2 manifest-list row (content 0 = data, 1 = deletes).
    * `partitions` = the spec's field_summary list (field 507): per
    * spec-field contains_null + serialized lower/upper partition-value
    * bounds — what lets the PLANNER skip whole manifests before
    * reading them ([[IcebergScan]] manifest pruning). None = unknown
    * (legacy row / unpartitioned spec), never pruned on. */
  private final case class ManifestRef(
      path: String, length: Long, specId: Int, content: Int,
      seq: Long, minSeq: Long, snapshotId: Long,
      addedFiles: Int, existingFiles: Int, deletedFiles: Int,
      addedRows: Long, existingRows: Long, deletedRows: Long,
      partitions: Option[Seq[IcebergScan.FieldSummary]] = scala.None)

  /** the previous CURRENT snapshot's manifest list, resolved through
    * the metadata JSON's manifest-list pointer — never by file-name
    * convention, because [[rollback]] re-points current-snapshot-id at
    * an older snapshot whose list is not `snap-{version-1}` */
  private def readPrevManifests(fs: FileSystem,
      conf: org.apache.hadoop.conf.Configuration, root: Path,
      version: Int, fromSnapshot: Option[Long] = scala.None): Seq[ManifestRef] = {
    if (version == 1) return Seq.empty
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readUtf8(fs, new Path(root, s"metadata/v${version - 1}.metadata.json")))
    val currentId = fromSnapshot.orElse(
      Option(node.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L))
      .getOrElse(return Seq.empty)
    val listPath = Option(node.get("snapshots"))
      .flatMap(_.elements().asScala.find(_.get("snapshot-id").asLong() == currentId))
      .map(_.get("manifest-list").asText())
      .getOrElse(return Seq.empty)
    val abs = if (listPath.contains("://") || listPath.startsWith("/"))
      new Path(listPath) else new Path(root, listPath)
    readAvro(fs, conf, abs)
      .map { r =>
        def opt(name: String): Option[AnyRef] =
          if (r.getSchema.getField(name) == null) None else Option(r.get(name))
        val seqOpt = opt("sequence_number").map(_.toString.toLong)
        val seq = seqOpt.getOrElse(0L)
        // pre-v2-conformance lists (older builds of this writer) had
        // sequence_number only on delete manifests and no counts:
        // infer content from that, and re-derive counts from the
        // manifest itself (driver-side, metadata-sized, legacy only)
        val content = opt("content").map(_.toString.toInt)
          .getOrElse(if (seqOpt.isDefined) 1 else 0)
        val counts: (Int, Int, Int, Long, Long, Long) =
          opt("added_data_files_count") match {
            case Some(a) => (a.toString.toInt,
              opt("existing_data_files_count").fold(0)(_.toString.toInt),
              opt("deleted_data_files_count").fold(0)(_.toString.toInt),
              opt("added_rows_count").fold(0L)(_.toString.toLong),
              opt("existing_rows_count").fold(0L)(_.toString.toLong),
              opt("deleted_rows_count").fold(0L)(_.toString.toLong))
            case None =>
              deriveCounts(fs, conf, new Path(root, r.get("manifest_path").toString))
          }
        ManifestRef(r.get("manifest_path").toString,
          r.get("manifest_length").asInstanceOf[Long],
          r.get("partition_spec_id").asInstanceOf[Int],
          content, seq,
          opt("min_sequence_number").map(_.toString.toLong).getOrElse(seq),
          r.get("added_snapshot_id").asInstanceOf[Long],
          counts._1, counts._2, counts._3, counts._4, counts._5, counts._6,
          partitions = parseSummaries(r))
      }
  }

  /** entry counts for a legacy manifest missing them in its list row:
    * one bounded Avro read of the manifest itself */
  private def deriveCounts(fs: FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      manifestPath: Path): (Int, Int, Int, Long, Long, Long) = {
    var (af, ef, df) = (0, 0, 0)
    var (ar, er, dr) = (0L, 0L, 0L)
    readAvro(fs, conf, manifestPath).foreach { e =>
      val rows = e.get("data_file").asInstanceOf[GenericRecord]
        .get("record_count").toString.toLong
      e.get("status").toString.toInt match {
        case 1 => af += 1; ar += rows
        case 2 => df += 1; dr += rows
        case _ => ef += 1; er += rows
      }
    }
    (af, ef, df, ar, er, dr)
  }

  private def manifestRefRecord(m: ManifestRef): GenericRecord = {
    val r = new GenericData.Record(manifestListSchema)
    r.put("manifest_path", m.path)
    r.put("manifest_length", m.length)
    r.put("partition_spec_id", m.specId)
    r.put("content", m.content)
    r.put("sequence_number", m.seq)
    r.put("min_sequence_number", m.minSeq)
    r.put("added_snapshot_id", m.snapshotId)
    r.put("added_data_files_count", m.addedFiles)
    r.put("existing_data_files_count", m.existingFiles)
    r.put("deleted_data_files_count", m.deletedFiles)
    r.put("added_rows_count", m.addedRows)
    r.put("existing_rows_count", m.existingRows)
    r.put("deleted_rows_count", m.deletedRows)
    m.partitions.foreach { sums =>
      val arrSchema = manifestListSchema.getField("partitions").schema()
        .getTypes.get(1) // [null, array]
      val elemSchema = arrSchema.getElementType
      val arr = new GenericData.Array[GenericRecord](sums.size, arrSchema)
      sums.foreach { s =>
        val fr = new GenericData.Record(elemSchema)
        fr.put("contains_null", s.containsNull)
        s.lower.foreach(b => fr.put("lower_bound", java.nio.ByteBuffer.wrap(b)))
        s.upper.foreach(b => fr.put("upper_bound", java.nio.ByteBuffer.wrap(b)))
        arr.add(fr)
      }
      r.put("partitions", arr)
    }
    r
  }

  /** parse a manifest-list row's `partitions` field-summary array */
  private def parseSummaries(r: GenericRecord): Option[Seq[IcebergScan.FieldSummary]] =
    if (r.getSchema.getField("partitions") == null) scala.None
    else Option(r.get("partitions")).collect { case l: java.util.Collection[_] =>
      l.asScala.collect { case fr: GenericRecord =>
        def bytes(name: String): Option[Array[Byte]] =
          Option(fr.get(name)).map {
            case b: java.nio.ByteBuffer =>
              val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
            case a: Array[Byte] => a
            case other => other.toString.getBytes("UTF-8")
          }
        IcebergScan.FieldSummary(fr.get("contains_null").toString.toBoolean,
          bytes("lower_bound"), bytes("upper_bound"))
      }.toSeq
    }

  /** the list rows to write: new DATA manifests (no summary yet) get
    * their field summaries computed from the manifest just written —
    * one driver-side avro read, the same cost class the counts take;
    * carried rows keep their stored summaries. Summaries make the NEXT
    * read's planner able to skip the manifest wholesale. */
  private def listRecords(fs: FileSystem,
      conf: org.apache.hadoop.conf.Configuration, root: Path,
      carry: SchemaCarry, refs: Seq[ManifestRef]): Seq[GenericRecord] =
    refs.map { m =>
      val withSums =
        if (m.content != 0 || m.partitions.isDefined) m
        else m.copy(partitions = scala.util.Try {
          val (pfs, slots) = carry.partFieldsIndexedFor(m.specId)
          summarizeManifest(fs, conf, new Path(root, m.path), pfs, slots)
        }.toOption.flatten) // unsummarizable (foreign layout): no claim
      manifestRefRecord(withSums)
    }

  /** per-spec-field (contains_null, lower, upper) over a manifest's
    * LIVE entries' partition records — bounds in the spec's
    * single-value binary serialization; a field whose values fail to
    * encode gets no bounds (conservative: never pruned on). Summaries
    * are written at each field's ORIGINAL spec slot (`slots` total):
    * void slots (dropped v1 partitions) get a conservative unbounded
    * summary so a positional reader pairs every later field with its
    * own slot instead of the previous one's. */
  private def summarizeManifest(fs: FileSystem,
      conf: org.apache.hadoop.conf.Configuration, manifestAbs: Path,
      pfs: Seq[(Int, IcebergTransforms.PartField)],
      slots: Int): Option[Seq[IcebergScan.FieldSummary]] = {
    if (pfs.isEmpty) return scala.None
    val containsNull = Array.fill(slots)(false)
    val loCmp = Array.fill[Option[(Any, Array[Byte])]](slots)(scala.None)
    val hiCmp = Array.fill[Option[(Any, Array[Byte])]](slots)(scala.None)
    // void slots carry no PartField: permanently unknown (unbounded)
    val unknown = Array.fill(slots)(true)
    pfs.foreach { case (slot, _) => unknown(slot) = false }
    readAvro(fs, conf, manifestAbs).foreach { entry =>
      if (entry.get("status").toString.toInt != 2) {
        val df = entry.get("data_file").asInstanceOf[GenericRecord]
        val part = Option(df.get("partition")).collect { case r: GenericRecord => r }
        pfs.foreach { case (slot, pf) =>
          val tpe = pf.recordField.dataType
          val v = part.flatMap(r => Option(r.getSchema.getField(pf.specName))
            .map(f => r.get(f.pos()))) match {
            case Some(u: org.apache.avro.util.Utf8) => Some(u.toString)
            case other => other
          }
          v match {
            case scala.None => unknown(slot) = true // no value recorded: unbounded
            case Some(null) => containsNull(slot) = true
            case Some(value) =>
              IcebergStats.encodeValue(tpe, value)
                .flatMap(b => IcebergStats.decode(tpe, b).map(_ -> b)) match {
                case Some((cmp, bytes)) =>
                  if (loCmp(slot).forall(c => cmpLt(cmp, c._1))) loCmp(slot) = Some((cmp, bytes))
                  if (hiCmp(slot).forall(c => cmpLt(c._1, cmp))) hiCmp(slot) = Some((cmp, bytes))
                case scala.None => unknown(slot) = true
              }
          }
        }
      }
    }
    Some((0 until slots).map { i =>
      if (unknown(i)) IcebergScan.FieldSummary(containsNull = true, scala.None, scala.None)
      else IcebergScan.FieldSummary(containsNull(i),
        loCmp(i).map(_._2), hiCmp(i).map(_._2))
    })
  }

  /** ordering in the decoded comparable domain (BigDecimal / sortable
    * strings — the same domain the stats pruner compares in) */
  private def cmpLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) < 0
    case (x: String, y: String) => x.compareTo(y) < 0
    case _ => false
  }

  /** POSITION-DELETE commit (v2 row-level delete, the spec's simplest):
    * delete every current row matching `cond`. One distributed pass
    * computes the victims' (file_path, pos) pairs from the live data
    * files' `_metadata` (Iceberg's `pos` IS the parquet row ordinal),
    * written as sorted-by-(file_path, pos) parquet delete files (one
    * per hash-group of victim data files — a billion-row predicate
    * delete on an unpartitioned 100 TB table fans out across tasks
    * instead of serializing through one; AQE coalesces a small victim
    * set back to one file) committed in a content=1 manifest whose
    * manifest-list entry
    * carries sequence_number = the new version — so the reader's
    * `delete.seq >= data.seq` rule applies it to every pre-existing
    * data file. The commit upgrades the table's metadata to
    * format-version 2 (later appends keep it).
    *
    * Returns the number of deleted row positions; matching zero rows
    * commits nothing. Victims are planned on the DELETE-APPLIED view
    * ([[IcebergScan.readWithLineage]]), so rows already dead under
    * existing position/equality deletes are neither re-listed nor
    * double-counted, and `cond` rides into the planner as a manifest
    * pruner (partition values + column bounds) so victim location
    * never scans files the metadata proves clean. An unpartitioned
    * table gets one delete file per victim-file hash-group (a single
    * file for small sets, under AQE); a PARTITIONED table gets one delete file per
    * touched partition (the spec scopes position deletes to their
    * partition — only an unpartitioned-spec EQUALITY delete may be
    * global), each manifest entry carrying the partition record, so a
    * partition-pruned reader prunes the deletes too. The data itself
    * is never rewritten. Same loud-failure scope as the reader:
    * parquet files only. Stale-delete protection across rewrites holds
    * structurally — data files are never rewritten in place and fresh
    * writes get fresh paths, so a position delete can never hit a row
    * it didn't name. */
  def deleteWhere(spark: SparkSession, tablePath: String,
      cond: org.apache.spark.sql.Column): Long = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val version = prev + 1
    val root = fs.makeQualified(new Path(tablePath))
    requireFreeVersion(fs, root, version)
    // format-version 3 forbids parquet position-delete files: route to
    // the deletion-vector path
    if (prevFormatVersion(fs, new Path(root, "metadata"), prev) >= 3)
      return deleteWhereDv(spark, tablePath, cond, fs, root,
        new Path(root, "metadata"), prev)

    val (_, dataFiles) = IcebergScan.currentDataFiles(spark, tablePath)
    if (dataFiles.isEmpty) return 0L
    import org.apache.spark.sql.functions.{broadcast, col}
    val metaDir = new Path(root, "metadata")
    // schema state carried verbatim from the table's own metadata (the
    // delete commit must not drift the declared schema or its ids)
    val carry = carryFromPrev(fs, metaDir, prev)
    val schemaJson = carry.schemaJson
    // transform specs work here too: the delete files shard per derived
    // partition tuple (the values live in the manifest entries), so a
    // partition-pruned reader prunes the deletes alongside the data
    val recordFields = carry.partFields.map(_.recordField)

    // victims come from the DELETE-APPLIED lineage view, so a row
    // already dead under an earlier position/equality delete is never
    // re-listed or re-counted; `cond` rides in as the manifest pruner
    val victims = IcebergScan.readWithLineage(spark, tablePath, Some(cond))
      .filter(cond).select(col("__raw_file"), col("__pos"))
    val delWithRows = stagePositionDeletes(spark, fs, root, tablePath,
      victims, version, recordFields)
    val nDeleted = delWithRows.map(_.rows).sum
    if (nDeleted == 0L) return 0L
    val conf = spark.sparkContext.hadoopConfiguration

    def assemble(v: Int, c: SchemaCarry): Unit = {
      val manifestRel = s"metadata/manifest-$v-${pathNonce()}.avro"
      val entrySchema = manifestSchemaFor(recordFields)
      val dataFileSchema = entrySchema.getField("data_file").schema()
      val delEntries = delWithRows.map { d =>
        val file = new GenericData.Record(dataFileSchema)
        file.put("content", 1) // POSITION DELETES
        file.put("file_path", d.rel)
        file.put("file_format", "PARQUET")
        file.put("partition",
          partitionRecordOf(dataFileSchema, recordFields, d.rel))
        file.put("record_count", d.rows)
        file.put("file_size_in_bytes", d.size)
        file.put("block_size_in_bytes", DefaultBlockSize)
        val entry = new GenericData.Record(entrySchema)
        entry.put("status", 1) // ADDED
        entry.put("snapshot_id", v.toLong)
        entry.put("data_file", file)
        entry
      }
      writeAvro(fs, new Path(root, manifestRel), entrySchema, delEntries,
        manifestMeta(c.schemaJson, fmtVersion = 2, content = "deletes",
          specFieldsJson = c.specFieldsJson, specId = c.defaultSpecId))
      val manifestLen = fs.getFileStatus(new Path(root, manifestRel)).getLen

      val prevManifests = readPrevManifests(fs, conf, root, v)
      val listRel = s"metadata/snap-$v-${pathNonce()}.avro"
      writeAvro(fs, new Path(root, listRel), manifestListSchema,
        (prevManifests :+
          ManifestRef(manifestRel, manifestLen, c.defaultSpecId,
            content = 1, seq = v.toLong, minSeq = v.toLong,
            snapshotId = v.toLong, addedFiles = delEntries.size,
            existingFiles = 0,
            deletedFiles = 0, addedRows = nDeleted, existingRows = 0L,
            deletedRows = 0L)) pipe (rs => listRecords(fs, conf, root, c, rs)),
        manifestListMeta(v, fmtVersion = 2))

      writeMetadataJson(fs, metaDir, root, v, fmtVersion = 2,
        c, listRel, operation = "delete")
    }
    // the staged delete files reference (file_path, pos) of the PLANNED
    // snapshot's data files, so every one must stay live. Pure
    // concurrent APPENDS commute: the delete's higher sequence number
    // applies it to pre-existing files only, and the staged positions
    // name exactly the files this plan saw.
    commitWithRetry(spark, fs, root, tablePath, "delete", carry, version,
      dataFiles.toSet)(assemble)
    nDeleted
  }

  /** stage position-delete parquet files for `victims` (columns
    * `__raw_file`, `__pos` from the lineage view) under
    * `data/deletes-v$version-<nonce>/`, returning the non-empty delete
    * files. Shared by [[deleteWhere]] and the merge-on-read
    * [[updateWhere]] path. */
  private def stagePositionDeletes(spark: SparkSession, fs: FileSystem,
      root: Path, tablePath: String, victims0: DataFrame, version: Int,
      recordFields: Seq[StructField]): Seq[Staged] = {
    val partCols = recordFields.map(_.name)
    import org.apache.spark.sql.functions.{broadcast, col}
    // the spec reserves parquet field ids for position-delete columns:
    // file_path = 2147483546, pos = 2147483545 — stamp them via
    // Spark's parquet.field.id write support so external readers
    // resolve the delete file by id
    val fpMeta = new MetadataBuilder().putLong("parquet.field.id", 2147483546L).build()
    val posMeta = new MetadataBuilder().putLong("parquet.field.id", 2147483545L).build()
    val victims = victims0.select(col("__raw_file").as("file_path", fpMeta),
      col("__pos").as("pos", posMeta))

    // delete files land in their own subdir; the nonce keeps two writers
    // racing to the same version from claiming the same names — only
    // the metadata CAS arbitrates
    val delDir = s"data/deletes-v$version-${pathNonce()}"
    if (partCols.isEmpty)
      TableCommit.stage(fs, root, delDir) { staging =>
        // hash-partition by victim FILE so a predicate delete touching
        // billions of rows never serializes through one task: each task
        // holds complete file groups (skew bounded by rows-per-data-file,
        // itself bounded by the write-time file size), writes ONE sorted
        // delete file per group (the spec allows many delete files), and
        // AQE coalesces a small victim set back to a single file. A
        // range-partition would need a sampling pass — i.e. a second
        // victim scan — for no better bound.
        victims.repartition(col("file_path"))
          .sortWithinPartitions("file_path", "pos")
          .write.mode("overwrite").parquet(staging)
      }
    else {
      // PARTITIONED: position deletes are partition-scoped by spec, so
      // each touched partition gets its own delete file(s) in a hive
      // directory mirroring the data layout. Partition values come
      // from the live MANIFEST entries of the victim files (typed,
      // layout-independent), joined in broadcast-size
      val victimFiles = victims
        .select(IcebergScan.normalizePathCol(col("file_path")).as("f"))
        .distinct().collect().map(_.getString(0)) // [lint:bounded] live-data-file-count rows
        .toSet
      if (victimFiles.isEmpty) return Seq.empty
      val (_, entries) = IcebergScan.currentEntries(spark, tablePath)
      val hitEntries = entries.filter(e =>
        e.content == 0 && victimFiles.contains(IcebergScan.normalizePath(e.path)))
      require(hitEntries.size == victimFiles.size,
        s"victim files ${victimFiles.size} != matched live entries " +
          s"${hitEntries.size} — path namespace mismatch between the " +
          "lineage view and the manifest")
      val partFields = recordFields
      val pmapSchema = StructType(
        StructField("__file", StringType) +: partFields.map(_.copy(nullable = true)))
      val pmapRows: java.util.List[org.apache.spark.sql.Row] = hitEntries.map { e =>
        org.apache.spark.sql.Row.fromSeq(IcebergScan.normalizePath(e.path) +:
          partFields.map { f =>
            // a PRE-EVOLUTION victim (older spec) has no value for the
            // current spec's fields — its deletes land in the NULL
            // partition dir; application is by (file, pos), unaffected
            if (e.partition.contains(f.name))
              partitionExternal(f.dataType, e.partition(f.name))
            else null
          })
      }.asJava
      val pmap = spark.createDataFrame(pmapRows, pmapSchema)
      TableCommit.stage(fs, root, delDir) { staging =>
        victims
          .withColumn("__file", IcebergScan.normalizePathCol(col("file_path")))
          .join(broadcast(pmap), Seq("__file"))
          .select(col("file_path").as("file_path", fpMeta) +:
            col("pos").as("pos", posMeta) +: partCols.map(col): _*)
          .transform(d => WriteLayout.clusterByPartitions(spark, d, partCols)) // all rows of a partition in one task → one file per touched partition
          .sortWithinPartitions("file_path", "pos")
          .write.partitionBy(partCols: _*).mode("overwrite").parquet(staging)
      }
    }
  }

  /** manifest partition value → the Spark EXTERNAL type for a
    * createDataFrame row (epoch-day Integer → java.sql.Date, manifest
    * int → short/byte where the column says so) */
  private def partitionExternal(dt: DataType, v: AnyRef): Any = (dt, v) match {
    case (_, null) => null
    case (DateType, i: java.lang.Integer) =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue()))
    case (ShortType, i: java.lang.Integer) => i.shortValue()
    case (ByteType, i: java.lang.Integer) => i.byteValue()
    case (StringType, s) => s.toString
    case (_, other) => other
  }

  /** validate + stage equality-delete parquet files (distinct sorted
    * key tuples, table field ids stamped) under
    * `data/eqdeletes-v$version-<nonce>/`; returns the non-empty staged
    * files and the key columns' field ids. Shared by [[deleteEqual]]
    * and the merge-on-read [[merge]] path. */
  private def stageEqualityDeletes(spark: SparkSession, fs: FileSystem,
      root: Path, keys: DataFrame, version: Int, carry: SchemaCarry,
      tablePath: String): (Seq[Staged], Seq[Int]) = {
    import org.apache.spark.sql.functions.col
    val schemaNode = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(carry.schemaJson)
    val idByName = schemaNode.get("fields").elements().asScala
      .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
    val declared = IcebergScan.sparkSchema(schemaNode)
    keys.schema.fields.foreach { f =>
      require(idByName.contains(f.name),
        s"key column '${f.name}' is not a column of the table at $tablePath")
      require(declared(f.name).dataType == f.dataType,
        s"key column '${f.name}' type ${f.dataType.sql} does not match the " +
          s"table's ${declared(f.name).dataType.sql}")
    }
    val eqIds = keys.schema.fields.map(f => idByName(f.name)).toSeq

    // one distinct, sorted delete file stamped with the table field ids
    val keyCols = keys.schema.fields.map { f =>
      val m = new MetadataBuilder()
        .putLong("parquet.field.id", idByName(f.name).toLong).build()
      col(f.name).as(f.name, m)
    }.toSeq
    // nonce: racing writers must not claim each other's file names
    // distinct() already hash-partitions by the key columns, so each task
    // holds complete key groups and writes its own sorted delete file —
    // a giant key set (a CDC backfill) never funnels through one task;
    // AQE coalesces a small set back to a single file
    val staged = TableCommit.stage(fs, root, s"data/eqdeletes-v$version-${pathNonce()}") {
      staging =>
        keys.select(keyCols: _*).distinct()
          .sortWithinPartitions(keys.schema.fieldNames.map(col).toSeq: _*)
          .write.mode("overwrite").parquet(staging)
    }
    (staged, eqIds)
  }

  /** EQUALITY-DELETE commit (v2): delete every row whose values in
    * `keys`' columns null-safely equal ANY key tuple. Readers apply it
    * to data files with sequence number STRICTLY below this commit's
    * (the spec's delete.seq > data.seq rule), so rows appended AFTER
    * the delete survive even when their keys match — the CDC-upsert
    * primitive. The distinct key set is written as sorted parquet
    * delete files — one per key hash-group, so a CDC backfill's giant
    * key set never funnels through one task (AQE coalesces a small set
    * to one file) — whose columns carry the TABLE schema's field ids
    * (spec requirement for equality delete files), committed in a
    * content=2 manifest carrying `equality_ids` on every entry.
    *
    * Returns the number of distinct key tuples committed; the rows
    * removed are whatever matches at read time — that is the point of
    * an equality delete: O(keys) write cost, NO table scan at all
    * (contrast [[deleteWhere]], which scans to pin positions). Same
    * scope as the reader: top-level primitive key columns, types
    * matching the table schema exactly.
    *
    * On a PARTITIONED table the delete commits as the spec's GLOBAL
    * equality delete: written under the UNPARTITIONED spec (spec-id 1,
    * registered in the metadata's partition-specs), applying to every
    * partition — the one delete shape the spec allows to cross
    * partitions, and the right one here because a key tuple says
    * nothing about which partition holds it. */
  def deleteEqual(spark: SparkSession, tablePath: String, keys: DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    require(keys.schema.fields.nonEmpty, "deleteEqual needs at least one key column")
    val version = prev + 1
    val root = fs.makeQualified(new Path(tablePath))
    requireFreeVersion(fs, root, version)

    val metaDir = new Path(root, "metadata")
    val carry = carryFromPrev(fs, metaDir, prev)
    val (delWithRows, eqIds) =
      stageEqualityDeletes(spark, fs, root, keys, version, carry, tablePath)
    val conf = spark.sparkContext.hadoopConfiguration
    val nKeys = delWithRows.map(_.rows).sum
    if (nKeys == 0L) return 0L
    // a v1 table upgrades to v2 at its first delete (the version that
    // defines sequence numbers); a v3 table stays v3 (equality deletes
    // remain first-class in v3 — only parquet POSITION deletes are
    // replaced by deletion vectors)
    val fmtV = math.max(2, prevFormatVersion(fs, metaDir, prev))

    def assemble(v: Int, c: SchemaCarry): Unit = {
      val manifestRel = s"metadata/manifest-$v-${pathNonce()}.avro"
      val dataFileSchema = manifestSchema.getField("data_file").schema()
      val delEntries = delWithRows.map { d =>
        val file = new GenericData.Record(dataFileSchema)
        file.put("content", 2) // EQUALITY DELETES
        file.put("file_path", d.rel)
        file.put("file_format", "PARQUET")
        file.put("partition",
          new GenericData.Record(dataFileSchema.getField("partition").schema()))
        file.put("record_count", d.rows)
        file.put("file_size_in_bytes", d.size)
        file.put("block_size_in_bytes", DefaultBlockSize)
        file.put("equality_ids", eqIds.map(Int.box).asJava)
        val entry = new GenericData.Record(manifestSchema)
        entry.put("status", 1) // ADDED
        entry.put("snapshot_id", v.toLong)
        entry.put("data_file", file)
        entry
      }
      // on a partitioned table this manifest declares the UNPARTITIONED
      // spec-id 1 (a global delete); the empty partition records above are
      // exactly that spec's record shape
      val globalSpecId = c.emptySpecId
      writeAvro(fs, new Path(root, manifestRel), manifestSchema, delEntries,
        manifestMeta(c.schemaJson, fmtV, content = "deletes",
          specId = globalSpecId))
      val manifestLen = fs.getFileStatus(new Path(root, manifestRel)).getLen

      val prevManifests = readPrevManifests(fs, conf, root, v)
      val listRel = s"metadata/snap-$v-${pathNonce()}.avro"
      writeAvro(fs, new Path(root, listRel), manifestListSchema,
        (prevManifests :+
          ManifestRef(manifestRel, manifestLen, globalSpecId,
            content = 1, seq = v.toLong, minSeq = v.toLong,
            snapshotId = v.toLong, addedFiles = delEntries.size,
            existingFiles = 0,
            deletedFiles = 0, addedRows = nKeys, existingRows = 0L,
            deletedRows = 0L)) pipe (rs => listRecords(fs, conf, root, c, rs)),
        manifestListMeta(v, fmtV))

      writeMetadataJson(fs, metaDir, root, v, fmtV,
        c, listRel, operation = "delete")
    }
    // equality deletes reference KEYS, not files — they commute with
    // any winner that keeps the schema/spec (the delete's higher
    // sequence number applies it to every file the winner added or
    // rewrote, which IS the operation's read-time semantics)
    commitWithRetry(spark, fs, root, tablePath, "delete", carry, version)(assemble)
    nKeys
  }

  // ======== format-version 3: deletion vectors (Puffin) =================

  /** one staged deletion-vector blob: its Puffin file (table-relative),
    * the blob's manifest address (fields 144/145), the referenced data
    * file in the lineage view's raw URI form, the blob's TOTAL position
    * count (union with any prior DV) and the NEWLY deleted rows. */
  private final case class DvStaged(
      puffinRel: String, puffinBytes: Long, offset: Long, length: Long,
      refRaw: String, cardinality: Long, newRows: Long)

  /** Upgrade a table to format-version 3 (spec §Version 3: deletion
    * vectors + row lineage). Parquet position-delete files are not
    * allowed in v3, so the upgrade commit converts the EFFECTIVE
    * position-delete state (the same sequence-gated set the reader
    * applies — stale positions are not immortalized) into one Puffin
    * deletion vector per referenced data file; equality deletes carry
    * forward unchanged (v3 keeps them). Row-id accounting starts at
    * the upgrade: `next-row-id` = 0 and pre-upgrade snapshots carry no
    * `first-row-id`, so their rows never receive derived ids — fresh
    * ranges cannot collide. Later DML on the table writes DVs.
    *
    * Reference surface: TidierDB delegates Iceberg versioning to its
    * backend (src/TidierDB.jl:209-212); this is superset depth. */
  def upgradeFormatVersion(spark: SparkSession, tablePath: String): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentVersion(fs, tablePath)
    val version = prev + 1
    val root = fs.makeQualified(new Path(tablePath))
    val metaDir = new Path(root, "metadata")
    if (prevFormatVersion(fs, metaDir, prev) >= 3) return
    val carry = carryFromPrev(fs, metaDir, prev)
    val (_, entries) = IcebergScan.currentEntries(spark, tablePath)
    val dataEntries = entries.filter(_.content == 0)
    val posParquet = entries.filter(e => e.content == 1 && e.fileFormat != "PUFFIN")
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val staged: Seq[DvStaged] = if (posParquet.isEmpty) Seq.empty else {
      // the reader's own sequence gating (delete.seq >= data.seq),
      // applied once here so a stale delete never becomes a DV position
      val raw = posParquet.groupBy(_.seq).toSeq.map { case (s, fls) =>
        spark.read.schema(StructType(Seq(
          StructField("file_path", StringType), StructField("pos", LongType))))
          .parquet(fls.map(_.path): _*).withColumn("__dseq", lit(s))
      }.reduce(_ unionByName _)
      val dataSeq = spark.createDataFrame(
        dataEntries.map(f => (IcebergScan.normalizePath(f.path), f.seq)))
        .toDF("__file", "__fseq")
      val victims = raw
        .withColumn("__file", IcebergScan.normalizePathCol(col("file_path")))
        .join(broadcast(dataSeq), Seq("__file"))
        .filter(col("__dseq") >= col("__fseq"))
        .select(col("file_path").as("__raw_file"), col("pos").as("__pos"))
        .distinct()
      stageDeletionVectors(spark, fs, root, victims, Map.empty, version)
    }
    // same live-rows invariant as a compaction: the data file set and
    // every row's liveness are unchanged — "replace"
    commitDvFold(spark, fs, root, metaDir, tablePath, carry,
      plannedLive = dataEntries.map(_.path).toSet, version, staged,
      seenDv = Map.empty, operation = "replace", dropParquetPos = true)
  }

  /** v3 DELETE: stage one DV per victim data file (union with the
    * file's existing DV — the spec allows at most ONE DV per file, and
    * a replacement must preserve previously deleted positions), then
    * fold-commit. Returns newly deleted rows. */
  private def deleteWhereDv(spark: SparkSession, tablePath: String,
      cond: org.apache.spark.sql.Column, fs: FileSystem, root: Path,
      metaDir: Path, prev: Int): Long = {
    val version = prev + 1
    val carry = carryFromPrev(fs, metaDir, prev)
    val (_, entries) = IcebergScan.currentEntries(spark, tablePath)
    val dataEntries = entries.filter(_.content == 0)
    if (dataEntries.isEmpty) return 0L
    require(!entries.exists(e => e.content == 1 && e.fileFormat != "PUFFIN"),
      s"$tablePath is format-version 3 but still carries parquet " +
        "position-delete files — upgradeFormatVersion converts them")
    val existingDv = dvByRefFile(entries)
    import org.apache.spark.sql.functions.col
    val victims = IcebergScan.readWithLineage(spark, tablePath, Some(cond))
      .filter(cond).select(col("__raw_file"), col("__pos"))
    val staged = stageDeletionVectors(spark, fs, root, victims, existingDv, version)
    if (staged.isEmpty) return 0L
    commitDvFold(spark, fs, root, metaDir, tablePath, carry,
      plannedLive = dataEntries.map(_.path).toSet, version, staged,
      seenDv = existingDv, operation = "delete", dropParquetPos = false)
    staged.map(_.newRows).sum
  }

  /** normalized referenced-data-file → (puffin path, content_offset,
    * content_size) for every live deletion vector */
  private def dvByRefFile(entries: Seq[IcebergScan.FileEntry])
      : Map[String, (String, Long, Long)] =
    entries.filter(e => e.content == 1 && e.fileFormat == "PUFFIN")
      .flatMap(e => e.refDataFile.map(r => IcebergScan.normalizePath(r) ->
        ((e.path, e.contentOffset.get, e.contentSize.get)))).toMap

  /** Stage deletion vectors for `victims` (`__raw_file`, `__pos`):
    * each EXECUTOR task writes ONE Puffin file holding one DV blob per
    * victim file in its slice (the spec recommends co-locating DVs —
    * a predicate delete touching 10k files commits ~32 puffins, not
    * 10k small files), unioned with the file's prior DV read in-task.
    * The driver collects only blob addresses — one row per victim
    * FILE, never per deleted row. */
  private def stageDeletionVectors(spark: SparkSession, fs: FileSystem,
      root: Path, victims: DataFrame,
      existingDv: Map[String, (String, Long, Long)],
      version: Int): Seq[DvStaged] = {
    import org.apache.spark.sql.functions.{col, collect_list, sort_array}
    val holder = new DeletionVectors.ConfHolder(spark.sparkContext.hadoopConfiguration)
    val dvDirRel = s"data/dvs-v$version-${pathNonce()}"
    val dvDir = new Path(root, dvDirRel)
    // per-file sorted positions: one agg value per victim file, bounded
    // by rows-per-data-file (itself bounded at write time) — the same
    // memory shape as the reader's DV decode and DeltaWrite's DV path
    val perFile = victims.groupBy(col("__raw_file"))
      .agg(sort_array(collect_list(col("__pos"))).as("__ps"))
    val oldB = spark.sparkContext.broadcast(existingDv)
    val dvDirStr = dvDir.toString
    import spark.implicits._
    val staged = perFile.as[(String, Seq[Long])].mapPartitions { rows =>
      val work = rows.toArray // bounded: victim FILES of this task only
      if (work.isEmpty) Iterator.empty
      else {
        val tc = org.apache.spark.TaskContext.get()
        val name = f"dv-${tc.partitionId()}%05d-${tc.taskAttemptId()}.puffin"
        val target = new Path(dvDirStr, name)
        val efs = target.getFileSystem(holder.value)
        val blobs = work.map { case (raw, newPos) =>
          val old = oldB.value.get(IcebergScan.normalizePath(raw)).map {
            case (pp, off, len) =>
              Puffin.readDvPositions(holder.value, new Path(pp), off, len)
          }.getOrElse(Array.empty[Long])
          val union = (old ++ newPos).distinct.sorted
          (Puffin.Blob(Puffin.DvBlobType, Seq.empty, -1L, -1L,
            Map("referenced-data-file" -> raw,
              "cardinality" -> union.length.toString),
            Puffin.dvPayload(union)), raw, union.length.toLong, newPos.size.toLong)
        }
        val metas = Puffin.write(efs, target, blobs.map(_._1).toSeq)
        val flen = efs.getFileStatus(target).getLen
        metas.zip(blobs).iterator.map { case (m, (_, raw, card, nNew)) =>
          (s"$dvDirRel/$name", flen, m.offset, m.length, raw, card, nNew)
        }
      }
    }.collect().toSeq // [lint:bounded] one row per VICTIM FILE, never per row
      .map((DvStaged.apply _).tupled)
    if (staged.isEmpty) fs.delete(dvDir, true)
    staged
  }

  /** Assemble + commit one v3 delete-side snapshot. Data manifests
    * carry forward untouched; ALL live delete state re-folds into
    * fresh per-spec delete manifests — existing equality deletes and
    * non-superseded DVs as EXISTING entries (original sequence
    * numbers), the staged DVs as ADDED. The fold is what enforces the
    * spec's at-most-one-DV-per-file invariant: a replaced DV's entry
    * simply isn't rewritten. Re-reads the current snapshot inside each
    * OCC attempt so a winner's delete entries are never dropped; a
    * winner that committed a DV for a file THIS delete also staged
    * aborts loudly (the staged blob unioned a stale bitmap — retrying
    * would lose the winner's positions). */
  private def commitDvFold(spark: SparkSession, fs: FileSystem, root: Path,
      metaDir: Path, tablePath: String, carry: SchemaCarry,
      plannedLive: Set[String], version: Int, staged: Seq[DvStaged],
      seenDv: Map[String, (String, Long, Long)], operation: String,
      dropParquetPos: Boolean,
      // a MOR UPDATE commits its re-written row images in the SAME
      // snapshot as the DVs that kill the originals
      newData: Seq[Staged] = Seq.empty): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rootPrefix = root.toString.stripSuffix("/") + "/"
    def relOf(abs: String): String =
      if (abs.startsWith(rootPrefix)) abs.substring(rootPrefix.length) else abs

    def assemble(v: Int, c: SchemaCarry): Unit = {
      val (_, cur) = IcebergScan.currentEntries(spark, tablePath)
      val dataByNorm = cur.filter(_.content == 0)
        .map(e => IcebergScan.normalizePath(e.path) -> e).toMap
      val dels = cur.filter(_.content != 0)
      if (!dropParquetPos)
        require(!dels.exists(e => e.content == 1 && e.fileFormat != "PUFFIN"),
          s"$tablePath carries parquet position deletes in format-version 3")
      val superseded = staged.map(s => IcebergScan.normalizePath(s.refRaw)).toSet
      // lost-delete guard: the staged blob is the union of victims and
      // the DV state SEEN AT STAGING; a different current DV means a
      // concurrent delete landed in between
      staged.foreach { s =>
        val norm = IcebergScan.normalizePath(s.refRaw)
        val curDv = dels.find(e => e.content == 1 && e.fileFormat == "PUFFIN" &&
          e.refDataFile.exists(r => IcebergScan.normalizePath(r) == norm))
        val same = (curDv, seenDv.get(norm)) match {
          case (scala.None, scala.None) => true
          case (Some(e), Some((pp, off, _))) =>
            IcebergScan.normalizePath(e.path) == IcebergScan.normalizePath(pp) &&
              e.contentOffset.contains(off)
          case _ => false
        }
        if (!same) throw new IllegalStateException(
          s"concurrent deletion-vector commit on ${s.refRaw} at $tablePath — " +
            "committing the staged DV would drop the winner's deleted " +
            "positions; re-run the delete on the current table state")
        require(dataByNorm.contains(norm),
          s"deletion vector references ${s.refRaw} which is no longer a " +
            s"live data file of $tablePath")
      }
      // kept delete entries: equality deletes always; DVs whose target
      // is live and not superseded; parquet position deletes only while
      // the upgrade itself is converting them away
      val kept = dels.filter { e =>
        if (e.content == 2) true
        else if (e.fileFormat == "PUFFIN")
          e.refDataFile.map(IcebergScan.normalizePath)
            .exists(n => dataByNorm.contains(n) && !superseded(n))
        else !dropParquetPos
      }
      val newBySpec = staged.groupBy(s =>
        dataByNorm(IcebergScan.normalizePath(s.refRaw)).specId)
      val keptBySpec = kept.groupBy(_.specId)
      val refs = (newBySpec.keySet ++ keptBySpec.keySet).toSeq.sorted.map { sid =>
        val pfs = c.partFieldsFor(sid)
        val es = manifestSchemaFor(pfs.map(_.recordField), v3 = true)
        val dfs = es.getField("data_file").schema()
        val keptEs = keptBySpec.getOrElse(sid, Seq.empty).sortBy(_.path)
        val keptRecs = keptEs.map { e =>
          val f = new GenericData.Record(dfs)
          f.put("content", e.content)
          f.put("file_path", relOf(e.path))
          f.put("file_format", e.fileFormat)
          f.put("partition", partitionRecordFromEntry(dfs, pfs, e))
          f.put("record_count", e.rows)
          f.put("file_size_in_bytes", e.bytes)
          f.put("block_size_in_bytes", DefaultBlockSize)
          if (e.eqIds.nonEmpty) f.put("equality_ids", e.eqIds.map(Int.box).asJava)
          if (e.fileFormat == "PUFFIN") {
            f.put("referenced_data_file", relOf(e.refDataFile.get))
            f.put("content_offset", Long.box(e.contentOffset.get))
            f.put("content_size_in_bytes", Long.box(e.contentSize.get))
          }
          val en = new GenericData.Record(es)
          en.put("status", 0) // EXISTING — original seq, delete gating intact
          en.put("snapshot_id", v.toLong)
          en.put("sequence_number", e.seq)
          en.put("file_sequence_number", e.seq)
          en.put("data_file", f)
          en
        }
        val newSs = newBySpec.getOrElse(sid, Seq.empty).sortBy(_.refRaw)
        val newRecs = newSs.map { s =>
          val ref = dataByNorm(IcebergScan.normalizePath(s.refRaw))
          val f = new GenericData.Record(dfs)
          f.put("content", 1) // POSITION DELETES (DV form)
          f.put("file_path", s.puffinRel)
          f.put("file_format", "PUFFIN")
          f.put("partition", partitionRecordFromEntry(dfs, pfs, ref))
          f.put("record_count", s.cardinality)
          f.put("file_size_in_bytes", s.puffinBytes)
          f.put("block_size_in_bytes", DefaultBlockSize)
          f.put("referenced_data_file", relOf(ref.path))
          f.put("content_offset", Long.box(s.offset))
          f.put("content_size_in_bytes", Long.box(s.length))
          val en = new GenericData.Record(es)
          en.put("status", 1) // ADDED — seq inherits this commit's
          en.put("snapshot_id", v.toLong)
          en.put("data_file", f)
          en
        }
        val rel = s"metadata/manifest-$v-dv-spec$sid-${pathNonce()}.avro"
        writeAvro(fs, new Path(root, rel), es, keptRecs ++ newRecs,
          manifestMeta(c.schemaJson, fmtVersion = 3, content = "deletes",
            specFieldsJson = c.specFieldsJsonFor(sid), specId = sid))
        ManifestRef(rel, fs.getFileStatus(new Path(root, rel)).getLen, sid,
          content = 1, seq = v.toLong,
          minSeq = (keptEs.map(_.seq) :+ v.toLong).min, snapshotId = v.toLong,
          addedFiles = newRecs.size, existingFiles = keptRecs.size,
          deletedFiles = 0, addedRows = newSs.map(_.cardinality).sum,
          existingRows = keptEs.map(_.rows).sum, deletedRows = 0L)
      }
      // optional data manifest: MOR-update row images (ADDED, explicit
      // sequential first_row_id from the table counter)
      val dataRef: Option[ManifestRef] = if (newData.isEmpty) scala.None else {
        val recordFields = c.partFields.map(_.recordField)
        val es = manifestSchemaFor(recordFields, v3 = true)
        val dfs = es.getField("data_file").schema()
        val rowIds = newData.scanLeft(nextRowIdOf(fs, metaDir, v - 1))(_ + _.rows).init
        val rel = s"metadata/manifest-$v-${pathNonce()}.avro"
        writeAvro(fs, new Path(root, rel), es,
          newData.zip(rowIds).map { case (staged, rowId) =>
            val f = new GenericData.Record(dfs)
            f.put("content", 0)
            f.put("file_path", staged.rel)
            f.put("file_format", "PARQUET")
            f.put("partition", partitionRecordOf(dfs, recordFields, staged.rel))
            f.put("record_count", staged.rows)
            f.put("file_size_in_bytes", staged.size)
            f.put("block_size_in_bytes", DefaultBlockSize)
            f.put("first_row_id", Long.box(rowId))
            attachStats(f, dfs, staged.footer, c.schemaJson)
            val en = new GenericData.Record(es)
            en.put("status", 1) // ADDED
            en.put("snapshot_id", v.toLong)
            en.put("data_file", f)
            en
          }, manifestMeta(c.schemaJson, fmtVersion = 3, content = "data",
            specFieldsJson = c.specFieldsJson, specId = c.defaultSpecId))
        Some(ManifestRef(rel, fs.getFileStatus(new Path(root, rel)).getLen,
          c.defaultSpecId, content = 0, seq = v.toLong, minSeq = v.toLong,
          snapshotId = v.toLong, addedFiles = newData.size, existingFiles = 0,
          deletedFiles = 0, addedRows = newData.map(_.rows).sum,
          existingRows = 0L, deletedRows = 0L))
      }
      val prevData = readPrevManifests(fs, conf, root, v).filter(_.content == 0)
      val listRel = s"metadata/snap-$v-${pathNonce()}.avro"
      writeAvro(fs, new Path(root, listRel), manifestListSchema,
        (prevData ++ dataRef.toSeq ++ refs) pipe (rs => listRecords(fs, conf, root, c, rs)),
        manifestListMeta(v, fmtVersion = 3))
      writeMetadataJson(fs, metaDir, root, v, fmtVersion = 3, c, listRel,
        operation = operation, assignedRows = newData.map(_.rows).sum)
    }
    commitWithRetry(spark, fs, root, tablePath, operation, carry, version,
      plannedLive)(assemble)
  }

  /** Spark → Iceberg schema JSON with 1-based field ids; primitives
    * only (the minimal-writer scope — nested types fail loudly). */
  private[graft] def icebergSchemaJson(schema: StructType): String = {
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id":${i + 1},"name":${jstr(f.name)},"required":${!f.nullable},""" +
        s""""type":${jstr(icebergType(f.dataType, f.name))}}"""
    }
    s"""{"type":"struct","schema-id":0,"fields":[${fields.mkString(",")}]}"""
  }

  private def icebergType(dt: DataType, name: String): String = dt match {
    case BooleanType => "boolean"
    case IntegerType | ShortType | ByteType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case DateType => "date"
    case TimestampNTZType => "timestamp"
    case TimestampType => "timestamptz"
    case StringType => "string"
    case BinaryType => "binary"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"column '$name': type ${other.sql} not supported by the minimal Iceberg writer " +
        "(primitive columns only)")
  }

  // manifest_entry with the spec's field-ids (manifest_entry 0-4,
  // data_file 100-105/134) as `field-id` Avro attributes — external
  // readers (java/pyiceberg) resolve manifest columns BY THESE IDS.
  // partition is the empty struct (unpartitioned table, spec-id 0);
  // block_size_in_bytes (105) is v1-required/v2-removed — writing it
  // is harmless, id 105 is simply unknown to v2 readers.
  // snapshot_id / sequence_number / file_sequence_number stay null on
  // ADDED entries (spec inheritance from the manifest-list row).
  // `content` (134) distinguishes data (0) from position-delete (1)
  /** Spark sort expressions for honored sort-order fields
    * ((name, ascending, nulls-first) triples from
    * [[SchemaCarry.defaultSortFields]]) */
  private def sortOrderExprs(
      fields: Seq[(String, Boolean, Boolean)]): Seq[org.apache.spark.sql.Column] =
    fields.map { case (n, asc, nullsFirst) =>
      val c = org.apache.spark.sql.functions.col(n)
      (asc, nullsFirst) match {
        case (true, true) => c.asc_nulls_first
        case (true, false) => c.asc_nulls_last
        case (false, true) => c.desc_nulls_first
        case (false, false) => c.desc_nulls_last
      }
    }

  /** the table's identity-partition source fields, in spec order */
  private def partFieldsOf(schema: StructType, partCols: Seq[String]): Seq[StructField] =
    partCols.map(n => schema.fields.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"partition column '$n' not in schema")))

  /** Avro primitive for a partition record field (the subset
    * [[hivePartitionable]] admits) */
  private def avroPartType(dt: DataType, name: String): String = dt match {
    case StringType => "\"string\""
    case LongType => "\"long\""
    case IntegerType | ShortType | ByteType => "\"int\""
    case BooleanType => "\"boolean\""
    case DateType => """{"type":"int","logicalType":"date"}"""
    case other => throw new IllegalArgumentException(
      s"partition column '$name': type ${other.sql} not supported")
  }

  /** manifest_entry Avro schema whose data_file.partition record
    * carries one nullable field per identity-partition column (spec
    * partition field-ids from 1000) — [[manifestSchema]] is the
    * unpartitioned instance */
  private def manifestSchemaFor(partFields: Seq[StructField],
      v3: Boolean = false): Schema = {
    val pf = partFields.zipWithIndex.map { case (f, i) =>
      s"""{"name":${jstr(f.name)},"type":["null",${avroPartType(f.dataType, f.name)}],""" +
        s""""default":null,"field-id":${1000 + i}}"""
    }.mkString(",")
    val base = manifestSchemaJson.replace("\"__PARTITION_FIELDS__\"", pf)
    // format-version 3 data_file fields: row-lineage first_row_id (142)
    // and the deletion-vector address triplet (143-145). Only stamped
    // into v3 manifests — v2 readers use fixed reader schemas and must
    // not see unknown ids
    val withV3 = if (!v3) base else base.replace(
      """{"name":"sort_order_id","type":["null","int"],"default":null,"field-id":140}""",
      """{"name":"sort_order_id","type":["null","int"],"default":null,"field-id":140},
        |{"name":"first_row_id","type":["null","long"],"default":null,"field-id":142},
        |{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
        |{"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
        |{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}"""
        .stripMargin.replaceAll("\n", ""))
    new Schema.Parser().parse(withV3)
  }

  private val manifestSchemaJson =
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |{"name":"content","type":"int","default":0,"field-id":134},
      |{"name":"file_path","type":"string","field-id":100},
      |{"name":"file_format","type":"string","field-id":101},
      |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":["__PARTITION_FIELDS__"]}},
      |{"name":"record_count","type":"long","field-id":103},
      |{"name":"file_size_in_bytes","type":"long","field-id":104},
      |{"name":"block_size_in_bytes","type":"long","field-id":105},
      |{"name":"null_value_counts","field-id":110,"default":null,
      |"type":["null",{"type":"array","logicalType":"map",
      |"items":{"type":"record","name":"k121_v122","fields":[
      |{"name":"key","type":"int","field-id":121},
      |{"name":"value","type":"long","field-id":122}]}}]},
      |{"name":"lower_bounds","field-id":125,"default":null,
      |"type":["null",{"type":"array","logicalType":"map",
      |"items":{"type":"record","name":"k126_v127","fields":[
      |{"name":"key","type":"int","field-id":126},
      |{"name":"value","type":"bytes","field-id":127}]}}]},
      |{"name":"upper_bounds","field-id":128,"default":null,
      |"type":["null",{"type":"array","logicalType":"map",
      |"items":{"type":"record","name":"k129_v130","fields":[
      |{"name":"key","type":"int","field-id":129},
      |{"name":"value","type":"bytes","field-id":130}]}}]},
      |{"name":"equality_ids","field-id":135,"default":null,
      |"type":["null",{"type":"array","items":"int","element-id":136}]},
      |{"name":"sort_order_id","type":["null","int"],"default":null,"field-id":140}]}}]}""".stripMargin

  private val manifestSchema = manifestSchemaFor(Nil)

  /** typed partition record for one hive-layout data file, values
    * parsed from the file's `k=v` path segments */
  /** identity-spec form: record fields ARE the source schema fields */
  private def partitionRecord(dataFileSchema: Schema, schema: StructType,
      partCols: Seq[String], relPath: String): GenericData.Record =
    partitionRecordOf(dataFileSchema, partCols.map(n => schema(n)
      .copy(name = n)), relPath)

  /** typed manifest partition record parsed from the hive path, typed
    * by the spec fields' RECORD types (transform result types — a
    * day field parses as a date, a bucket as an int) */
  private def partitionRecordOf(dataFileSchema: Schema,
      recordFields: Seq[StructField], relPath: String): GenericData.Record = {
    val rec = new GenericData.Record(dataFileSchema.getField("partition").schema())
    if (recordFields.isEmpty) return rec
    val names = recordFields.map(_.name)
    val raw = hivePathValues(relPath, names).getOrElse(
      throw new IllegalStateException(
        s"written data file $relPath does not carry hive segments for " +
          s"partition fields ${names.mkString(", ")}"))
    recordFields.foreach { f =>
      rec.put(f.name, raw(f.name).map(typedPartitionValue(f.dataType, f.name, _)).orNull)
    }
    rec
  }

  /** `k=v` hive segments of a path, percent-decoded;
    * `__HIVE_DEFAULT_PARTITION__` → None (NULL). None overall if any
    * partition column has no segment. */
  private[graft] def hivePathValues(path: String,
      partCols: Seq[String]): Option[Map[String, Option[String]]] = {
    val segs = path.split('/').iterator.filter(_.contains('=')).map { s =>
      val i = s.indexOf('=')
      s.substring(0, i) -> DeltaScan.percentDecode(s.substring(i + 1))
    }.toMap
    if (!partCols.forall(segs.contains)) scala.None
    else Some(partCols.map(n => n ->
      (if (segs(n) == "__HIVE_DEFAULT_PARTITION__") scala.None else Some(segs(n)))).toMap)
  }

  /** hive path string → the Avro/manifest value domain */
  private[sources] def typedPartitionValue(dt: DataType, name: String, s: String): AnyRef =
    dt match {
      case StringType => s
      case LongType => java.lang.Long.valueOf(s)
      case IntegerType | ShortType | ByteType => java.lang.Integer.valueOf(s)
      case BooleanType => java.lang.Boolean.valueOf(s)
      case DateType =>
        java.lang.Integer.valueOf(java.time.LocalDate.parse(s).toEpochDay.toInt)
      case other => throw new IllegalArgumentException(
        s"partition column '$name': type ${other.sql} not supported")
    }

  /** GenericData for the map-as-array encoding above */
  private def kvArray[V](dataFileSchema: Schema, fieldName: String,
      m: Map[Int, V], enc: V => AnyRef): AnyRef = {
    val arrSchema = dataFileSchema.getField(fieldName).schema().getTypes.get(1)
    val itemSchema = arrSchema.getElementType
    val arr = new GenericData.Array[GenericRecord](m.size, arrSchema)
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val r = new GenericData.Record(itemSchema)
      r.put("key", k)
      r.put("value", enc(v))
      arr.add(r)
    }
    arr
  }

  // schemaJson → (field ids by name, Spark schema): parsed once per
  // schema, not once per FILE (attachStats runs per added file)
  private val statsSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Map[String, Int], StructType)]()

  /** attach lower/upper bounds + null counts (from one parquet footer)
    * to a data_file record — column stats external planners and our
    * own skippingFilter prune with. */
  private def attachStats(file: GenericData.Record, dataFileSchema: Schema,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      schemaJson: String): Unit = {
    if (statsSchemaCache.size > 64) statsSchemaCache.clear()
    val (idByName, sparkSch) = statsSchemaCache.computeIfAbsent(schemaJson, { sj =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val ids = mapper.readTree(sj).get("fields").elements().asScala
        .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
      (ids, IcebergScan.sparkSchema(mapper.readTree(sj)))
    })
    val (lo, hi, nulls) = IcebergStats.footerBounds(footer, sparkSch, idByName)
    if (nulls.nonEmpty)
      file.put("null_value_counts", kvArray(dataFileSchema, "null_value_counts",
        nulls, (v: Long) => java.lang.Long.valueOf(v)))
    if (lo.nonEmpty)
      file.put("lower_bounds", kvArray(dataFileSchema, "lower_bounds",
        lo, (v: Array[Byte]) => java.nio.ByteBuffer.wrap(v)))
    if (hi.nonEmpty)
      file.put("upper_bounds", kvArray(dataFileSchema, "upper_bounds",
        hi, (v: Array[Byte]) => java.nio.ByteBuffer.wrap(v)))
  }

  private val DefaultBlockSize = 67108864L // 64 MiB, the spec's customary default

  // the full v2 manifest_file row — field names as the java
  // implementation writes them (added_data_files_count etc., ids
  // 504-506/512-514 — readers resolve by field-id, so the v1 names
  // stay compatible), counts required, sequence_number (515) the
  // commit's sequence on EVERY manifest (data manifests too, per
  // spec): the reader's delete.seq >= data.seq rule then exempts data
  // appended after a delete and applies it to everything earlier
  private val manifestListSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","default":0,"field-id":517},
      |{"name":"sequence_number","type":"long","default":0,"field-id":515},
      |{"name":"min_sequence_number","type":"long","default":0,"field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_data_files_count","type":"int","field-id":504},
      |{"name":"existing_data_files_count","type":"int","field-id":505},
      |{"name":"deleted_data_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514},
      |{"name":"partitions","type":["null",{"type":"array","items":
      |  {"type":"record","name":"r508","fields":[
      |    {"name":"contains_null","type":"boolean","field-id":509},
      |    {"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
      |    {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
      |    {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}]},
      |  "element-id":508}],"default":null,"field-id":507}]}""".stripMargin)

  private def writeAvro(fs: FileSystem, path: Path, schema: Schema,
      records: Seq[GenericRecord],
      meta: Seq[(String, String)] = Seq.empty): Unit = {
    val out = fs.create(path, false)
    val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => writer.setMeta(k, v) }
    writer.create(schema, out)
    try records.foreach(writer.append) finally writer.close()
  }

  /** publish metadata version `version` and swap the version hint to
    * it — the one place an Iceberg commit lands. The metadata JSON is
    * the conditional CAS ([[TableCommit.publish]]: a taken slot is a
    * lost race); the hint is an atomic-overwrite pointer, so no reader
    * — the admission-controlled stream source in particular — can
    * observe a torn control file. */
  private[sources] def publishMetadata(fs: FileSystem, metaDir: Path,
      version: Int, json: String): Unit = {
    TableCommit.publish(fs, new Path(metaDir, s"v$version.metadata.json"), json, "Iceberg")
    AtomicFiles.publishUtf8(fs, new Path(metaDir, "version-hint.text"),
      version.toString, overwrite = true)
  }
}
