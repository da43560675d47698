package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dependency-free read of Apache Iceberg tables — the `iceberg_scan`
  * analog (reference: src/TidierDB.jl:161-169 runs it via a DuckDB
  * extension). No connector jar required: table metadata is public-spec
  * JSON (iceberg.apache.org/spec) and the manifest hierarchy is plain
  * Avro, which Spark's bundled avro jars read; the data files are then
  * scanned as ordinary parquet.
  *
  * Supported: format-version 1 and 2 tables, HadoopTables
  * (`version-hint.text`) and uuid-suffixed metadata layouts, snapshot
  * selection (`snapshotAsOf`), manifest-entry status replay
  * (existing/added/deleted), IDENTITY PARTITIONING (hive-layout tables
  * read as one partition-discovered scan — partition values from the
  * path; other layouts inject the manifest partition records, one scan
  * per live partition tuple; partition values prune files at plan time
  * as exact manifest bounds), and V2 ROW-LEVEL DELETES: positional delete files
  * (applied when `delete.seq >= data.seq`, via an anti-join on the file
  * source's `_metadata.(file_path, row_index)` — Iceberg's `pos` is
  * exactly the row ordinal in the data file) and equality delete files
  * (applied when `delete.seq > data.seq`, as a null-safe anti-join on
  * the columns the delete file's `equality_ids` name). Unsupported
  * (fails loudly rather than returning wrong answers): non-parquet
  * data/delete files, equality ids naming nested fields,
  * `time`/`uuid`/`fixed` column types.
  *
  * Scale shape: the metadata tree (one JSON + a few KB-MB of Avro) is
  * read driver-side — the same planning cost every Iceberg reader pays;
  * the data scan is a normal distributed parquet read with pushdown and
  * column pruning against the spec-derived schema. Delete application
  * is pure joins: the positional-delete set reads distributed, is
  * pre-filtered by sequence number against the (broadcast) per-file
  * sequence map, and broadcasts below a row threshold; equality deletes
  * group the data files by their applicable-delete set (distinct
  * sequence numbers are few) so each file is scanned exactly once.
  */
object IcebergScan {

  /** The table as a DataFrame, at `snapshotAsOf` (a snapshot id) if
    * given, else the current snapshot. */
  def read(spark: SparkSession, tablePath: String, snapshotAsOf: Option[Long] = None,
      skippingFilter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    readInternal(spark, tablePath, snapshotAsOf, None, keepLineage = false,
      skippingFilter = skippingFilter)

  /** Format-version 3 ROW-LINEAGE read surface: every table column
    * plus `_row_id` = the data file's `first_row_id` + the row's
    * original ordinal (spec §Row Lineage) — stable across compactions
    * that keep the file and unchanged by deletion vectors (a DV kills
    * rows, the survivors keep their ids). Ids surface for files
    * carrying an EXPLICIT `first_row_id` (graft's v3 writer always
    * stamps one); files written before the upgrade have no assigned
    * ids and read NULL, per spec. The per-file base map is planning
    * metadata — broadcast, no extra shuffle. Parity with
    * [[DeltaWrite.readWithRowIds]] (reference exposes no row ids;
    * superset). */
  def readWithRowIds(spark: SparkSession, tablePath: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val planned = planTable(spark, tablePath)
    require(Option(planned.meta.get("format-version")).exists(_.asInt() >= 3),
      s"$tablePath is not a format-version 3 table — row ids exist only in v3 " +
        "(IcebergWrite.upgradeFormatVersion)")
    val lineage = readEntries(spark, tablePath, planned.meta, planned.entries,
      onlyDataFiles = None, keepLineage = true, skippingFilter = None)
    val bases = planned.entries
      .filter(e => e.content == 0 && e.firstRowId.isDefined)
      .map(e => (normalizePath(e.path), e.firstRowId.get))
    val outCols = planned.schema.fieldNames.map(col).toSeq :+ col("_row_id")
    if (bases.isEmpty)
      return lineage.withColumn("_row_id",
        lit(null).cast(LongType)).select(outCols: _*)
    val baseDf = spark.createDataFrame(bases).toDF("__file", "__base")
    lineage
      .withColumn("__file", normalizePathCol(col("__raw_file")))
      .join(broadcast(baseDf), Seq("__file"), "left")
      .withColumn("_row_id", col("__base") + col("__pos"))
      .select(outCols: _*)
  }

  /** TIMESTAMP time travel: the table at the LAST snapshot whose
    * `timestamp-ms` is at or before `tsMillis` — in-metadata evidence
    * only (snapshot timestamps are written by the committer, never
    * file mtimes, so copies/restores can't skew the answer). Fails
    * loudly when `tsMillis` precedes the first snapshot. The Iceberg
    * twin of [[DeltaScan.readTimestampAsOf]]. */
  def readTimestampAsOf(spark: SparkSession, tablePath: String,
      tsMillis: Long): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val metaDir = new Path(tablePath, "metadata")
    val meta = parseMetadata(metaDir.getFileSystem(conf), metaDir)
    val stamped = Option(meta.get("snapshots"))
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
      .map(s => (s.get("snapshot-id").asLong(), s.get("timestamp-ms").asLong()))
      .sortBy(_._2)
    require(stamped.nonEmpty, s"no snapshots at $tablePath to time-travel")
    val at = stamped.takeWhile(_._2 <= tsMillis).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"timestamp $tsMillis precedes the first snapshot " +
          s"(${stamped.head._2}) of $tablePath"))
    read(spark, tablePath, snapshotAsOf = Some(at._1))
  }

  /** ROW-LEVEL CHANGES between two snapshots as a SNAPSHOT DIFF —
    * the Iceberg twin of [[DeltaScan.changesBetween]]: exact for any
    * commit mix (row-level deletes, compaction, rollback) at two-scan
    * cost; [[readChanges]] stays the cheap incremental path for
    * append-only ranges. Updates appear as delete+insert pairs. */
  def changesBetween(spark: SparkSession, tablePath: String,
      fromSnapshot: Long, toSnapshot: Long): DataFrame =
    DeltaScan.snapshotDiff(
      read(spark, tablePath, snapshotAsOf = Some(fromSnapshot)),
      read(spark, tablePath, snapshotAsOf = Some(toSnapshot)))

  /** read the table AT a named ref (tag) — the spec's `refs` map.
    * `IcebergWrite.tagSnapshot` writes them; [[read]] with the resolved
    * snapshot id does the rest. */
  def readRef(spark: SparkSession, tablePath: String, ref: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val metaDir = new Path(tablePath, "metadata")
    val meta = parseMetadata(metaDir.getFileSystem(conf), metaDir)
    val id = Option(meta.get("refs")).flatMap(r => Option(r.get(ref)))
      .map(_.get("snapshot-id").asLong())
      .getOrElse(throw new IllegalArgumentException(
        s"no ref '$ref' at $tablePath (have ${Option(meta.get("refs"))
          .map(_.properties().asScala.map(_.getKey).mkString(",")).getOrElse("none")})"))
    read(spark, tablePath, snapshotAsOf = Some(id))
  }

  /** SNAPSHOTS metadata table (the operational `table$snapshots`
    * surface): one row per snapshot — id, committed_at millis,
    * sequence number, operation, manifest-list path, parent. Driver-
    * side METADATA only (one JSON read), O(snapshots) rows. */
  def snapshots(spark: SparkSession, tablePath: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val metaDir = new Path(tablePath, "metadata")
    val meta = parseMetadata(metaDir.getFileSystem(conf), metaDir)
    val current = Option(meta.get("current-snapshot-id")).map(_.asLong()).getOrElse(-1L)
    val rows = Option(meta.get("snapshots"))
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
      .map { s =>
        org.apache.spark.sql.Row(
          s.get("snapshot-id").asLong(),
          s.get("timestamp-ms").asLong(),
          Option(s.get("sequence-number")).map(_.asLong()).getOrElse(
            s.get("snapshot-id").asLong()),
          Option(s.get("summary")).flatMap(x => Option(x.get("operation")))
            .map(_.asText()).orNull,
          s.get("manifest-list").asText(),
          s.get("snapshot-id").asLong() == current)
      }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("committed_at_ms", LongType, nullable = false),
      StructField("sequence_number", LongType, nullable = false),
      StructField("operation", StringType),
      StructField("manifest_list", StringType, nullable = false),
      StructField("is_current", BooleanType, nullable = false))))
  }

  /** FILES metadata table (the operational `table$files` surface):
    * one row per LIVE manifest entry of the current snapshot — path,
    * content kind, row count, sequence number, partition values
    * (string-rendered map). Reads manifests only (KBs), never data. */
  def files(spark: SparkSession, tablePath: String): DataFrame = {
    val (_, entries) = currentEntries(spark, tablePath)
    val rows = entries.map { e =>
      org.apache.spark.sql.Row(
        e.path,
        e.content match {
          case 0 => "data"; case 1 => "position-deletes"; case 2 => "equality-deletes"
          case other => s"unknown($other)"
        },
        e.rows, e.seq,
        e.partition.map { case (k, v) => k -> (if (v == null) null else v.toString) },
        e.sortOrderId.map(Integer.valueOf).orNull,
        e.fileFormat,
        e.refDataFile.orNull)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("content", StringType, nullable = false),
      StructField("record_count", LongType, nullable = false),
      StructField("sequence_number", LongType, nullable = false),
      StructField("partition", MapType(StringType, StringType)),
      StructField("sort_order_id", IntegerType, nullable = true),
      // v3 deletion vectors surface here: file_format PUFFIN +
      // the data file the DV applies to
      StructField("file_format", StringType, nullable = false),
      StructField("referenced_data_file", StringType, nullable = true))))
  }

  /** [[read]] restricted to a subset of data-file paths (all applicable
    * deletes still applied) — [[IcebergWrite.compact]]'s rewrite input:
    * the compacted output must hold the SURVIVING rows of exactly the
    * files being replaced. */
  /** [[readFiltered]] additionally carrying each surviving row's
    * physical lineage — `__raw_file` (the data file's
    * `_metadata.file_path` URI, the form position-delete files must
    * name) and `__pos` (row ordinal) — with ALL deletes applied:
    * [[IcebergWrite.deleteWhere]] plans its victims on this view so a
    * row already dead under an earlier delete is never re-counted. */
  private[sources] def readWithLineage(spark: SparkSession, tablePath: String,
      pruneBy: Option[org.apache.spark.sql.Column] = None): DataFrame =
    readInternal(spark, tablePath, None, None, keepLineage = true,
      skippingFilter = pruneBy)

  private[sources] def readFiltered(spark: SparkSession, tablePath: String,
      snapshotAsOf: Option[Long], onlyDataFiles: Option[Set[String]]): DataFrame =
    readInternal(spark, tablePath, snapshotAsOf, onlyDataFiles, keepLineage = false)

  /** Read the snapshot pinned by an EXPLICIT metadata file — the REST
    * catalog contract: the catalog's `metadata-location` is the source
    * of truth, which may lead or lag the directory's version-hint (a
    * hint rewrite is not atomic and foreign catalogs don't write one
    * at all). Everything else (manifest walk, delete application,
    * schema resolution) is the ordinary read, resolved against the
    * metadata's own `location` field. */
  def readAtMetadata(spark: SparkSession, metadataFile: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(metadataFile)
    val fs = p.getFileSystem(conf)
    val meta = new ObjectMapper().readTree(readUtf8(fs, p))
    val tablePath = Option(meta.get("location")).map(_.asText())
      .filter(_.nonEmpty)
      .getOrElse(p.getParent.getParent.toString) // {table}/metadata/x.json
    readInternal(spark, tablePath, snapshotAsOf = scala.None,
      onlyDataFiles = scala.None, keepLineage = false,
      metaOverride = Some(meta))
  }

  private def readInternal(spark: SparkSession, tablePath: String,
      snapshotAsOf: Option[Long], onlyDataFiles: Option[Set[String]],
      keepLineage: Boolean,
      skippingFilter: Option[org.apache.spark.sql.Column] = None,
      metaOverride: Option[JsonNode] = None): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val metaDir = new Path(tablePath, "metadata")
    val fs = metaDir.getFileSystem(conf)
    val meta = metaOverride.getOrElse(parseMetadata(fs, metaDir))
    val snapshots = Option(meta.get("snapshots")).map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    val wantedId = snapshotAsOf.orElse(
      Option(meta.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L))
    val snapshot = wantedId.map { id =>
      snapshots.find(_.get("snapshot-id").asLong() == id).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $id not found in $tablePath (have ${snapshots.map(_.get("snapshot-id").asLong()).mkString(",")})"))
    }
    val pruner = skippingFilter.flatMap(f =>
      manifestPrunerFor(spark, meta, f))
    val entries = snapshot.map(s =>
      snapshotEntries(fs, conf, tablePath, s, pruner)).getOrElse(Seq.empty)
    readEntries(spark, tablePath, meta, entries, onlyDataFiles,
      keepLineage, skippingFilter)
  }

  /** build the manifest-level pruner for `filter`: a data manifest's
    * field summaries become per-SOURCE-column bounds (identity: the
    * value range; day/month/year/hour/truncate: the transform range of
    * the lower/upper partition values — all monotonic in the partition
    * value's order; bucket contributes nothing) evaluated through the
    * same stats machinery the per-file prune uses. Everything
    * unresolvable stays conservative (keep the manifest). */
  private def manifestPrunerFor(spark: SparkSession, meta: JsonNode,
      filter: org.apache.spark.sql.Column): Option[(Int, Seq[FieldSummary]) => Boolean] = {
    val schema = sparkSchema(currentSchema(meta))
    val expr = scala.util.Try(
      ParquetStats.predicateExpr(spark, schema, filter)).toOption.getOrElse(return scala.None)
    val schemaFields = currentSchema(meta).get("fields").elements().asScala.toSeq
    val byId: Map[Int, StructField] =
      schemaFields.map(n => n.get("id").asInt() -> schema(n.get("name").asText())).toMap
    val idByName: Map[String, Int] =
      schemaFields.map(n => n.get("name").asText() -> n.get("id").asInt()).toMap
    val specCache = scala.collection.mutable.Map.empty[Int, Option[Seq[(Int, IcebergTransforms.PartField)]]]
    Some { (specId: Int, sums: Seq[FieldSummary]) =>
      specCache.getOrElseUpdate(specId,
        partitionSpecFieldsById(meta, schema, specId)) match {
        case scala.None => true // unknown spec: never prune
        case Some(pfs) =>
          var lo = Map.empty[Int, Array[Byte]]
          var hi = Map.empty[Int, Array[Byte]]
          // index summaries by ORIGINAL spec slot — void fields occupy
          // a summary slot even though they carry no PartField
          pfs.foreach { case (slot, pf) =>
            if (slot < sums.length) {
              val s = sums(slot)
              for {
                lb <- s.lower; ub <- s.upper
                lv <- typedPartValue(pf, lb); uv <- typedPartValue(pf, ub)
                (srcLo, _) <- IcebergTransforms.sourceBounds(pf, lv)
                (_, srcHi) <- IcebergTransforms.sourceBounds(pf, uv)
                id <- idByName.get(pf.source.name)
              } {
                IcebergStats.encodeValue(pf.source.dataType, srcLo)
                  .foreach(b => lo += id -> b)
                Option(srcHi)
                  .flatMap(IcebergStats.encodeValue(pf.source.dataType, _))
                  .foreach(b => hi += id -> b)
              }
            }
          }
          if (lo.isEmpty && hi.isEmpty) true
          else ParquetStats.mayMatch(
            Some(IcebergStats.toFileStats(schema, byId, -1L, lo, hi, Map.empty)),
            expr)
      }
    }
  }

  /** decode a field summary's single-value binary to the TYPED
    * partition value [[IcebergTransforms.sourceBounds]] consumes */
  private def typedPartValue(pf: IcebergTransforms.PartField,
      bytes: Array[Byte]): Option[AnyRef] = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    pf.recordField.dataType match {
      case IntegerType | DateType if bytes.length == 4 =>
        Some(Int.box(buf.getInt))
      case LongType | TimestampType | TimestampNTZType if bytes.length == 8 =>
        Some(Long.box(buf.getLong))
      case FloatType if bytes.length == 4 => Some(Float.box(buf.getFloat))
      case DoubleType if bytes.length == 8 => Some(Double.box(buf.getDouble))
      case BooleanType if bytes.length == 1 => Some(Boolean.box(bytes(0) != 0))
      case StringType =>
        Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      case _ => scala.None
    }
  }

  /** one-walk planning state for callers issuing MANY subset reads of
    * the same current snapshot ([[BucketJoin]]: one read per bucket
    * ordinal) — N [[readFiltered]] calls would mean N full manifest
    * walks; plan once, then [[readPlanned]] each subset */
  private[sources] final case class PlannedTable(
      tablePath: String, meta: JsonNode, schema: StructType,
      entries: Seq[FileEntry])

  private[sources] def planTable(spark: SparkSession,
      tablePath: String): PlannedTable = {
    val conf = spark.sessionState.newHadoopConf()
    val metaDir = new Path(tablePath, "metadata")
    val fs = metaDir.getFileSystem(conf)
    val meta = parseMetadata(fs, metaDir)
    val schema = sparkSchema(currentSchema(meta))
    val snapshots = Option(meta.get("snapshots")).map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    val wantedId = Option(meta.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L)
    val snapshot = wantedId.flatMap(id => snapshots.find(_.get("snapshot-id").asLong() == id))
    val entries = snapshot.map(s =>
      snapshotEntries(fs, conf, tablePath, s)).getOrElse(Seq.empty)
    PlannedTable(tablePath, meta, schema, entries)
  }

  /** [[readFiltered]] over pre-walked planning state (deletes still
    * applied; delete files come from the SAME snapshot's entries) */
  private[sources] def readPlanned(spark: SparkSession, planned: PlannedTable,
      onlyDataFiles: Option[Set[String]]): DataFrame =
    readEntries(spark, planned.tablePath, planned.meta, planned.entries,
      onlyDataFiles, keepLineage = false, skippingFilter = None)

  /** skipping-filtered read over pre-walked planning state — lets a
    * planner that already paid the manifest walk ([[CboJoin]]) prune
    * and read without a second walk */
  private[sources] def readPlannedFiltered(spark: SparkSession,
      planned: PlannedTable, skippingFilter: Option[org.apache.spark.sql.Column]): DataFrame =
    readEntries(spark, planned.tablePath, planned.meta, planned.entries,
      onlyDataFiles = None, keepLineage = false, skippingFilter = skippingFilter)

  private def readEntries(spark: SparkSession, tablePath: String,
      meta: JsonNode, entries: Seq[FileEntry],
      onlyDataFiles: Option[Set[String]],
      keepLineage: Boolean,
      skippingFilter: Option[org.apache.spark.sql.Column]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val schema = sparkSchema(currentSchema(meta))
    val specFields = partitionSpecFields(meta, schema)
    val partSpec = specFields.filter(_.isIdentity).map(pf => pf.specName -> pf.source)
    // RENAME-PROOF reads: tables whose files all carry parquet field
    // ids ([[IcebergWrite.FieldIdsProp]], stamped at write) resolve
    // data columns BY ID, so a renamed column finds its bytes in every
    // pre-rename file. The conf is a no-op for schemas without id
    // metadata, so enabling it session-wide is safe.
    val idRead = Option(meta.get("properties"))
      .flatMap(p => Option(p.get(IcebergWrite.FieldIdsProp)))
      .exists(_.asText() == "true")
    val idByName: Map[String, Long] =
      if (!idRead) Map.empty
      else currentSchema(meta).get("fields").elements().asScala
        .map(f => f.get("name").asText() -> f.get("id").asLong()).toMap
    def withIds(st: StructType): StructType =
      if (!idRead) st
      else StructType(st.fields.map(f => idByName.get(f.name).map(id =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong("parquet.field.id", id).build()))
        .getOrElse(f)))
    if (idRead) spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val outSchema =
      if (!keepLineage) schema
      else StructType(schema.fields ++ Seq(
        StructField("__raw_file", StringType), StructField("__pos", LongType)))
    if (entries.isEmpty) // empty table: no snapshot yet (or nothing live)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)

    // manifest-carried column bounds prune files BEFORE any scan plans
    // — the Iceberg twin of DeltaScan's stats skipping, same pruner
    val dataFiles = {
      val base = dedupeEntries(entries.filter(_.content == 0))
        .filter(f => onlyDataFiles.forall(_.contains(f.path)))
      skippingFilter match {
        case None => base
        case Some(f) =>
          val expr = ParquetStats.predicateExpr(spark, schema, f)
          val schemaFields = currentSchema(meta).get("fields").elements().asScala.toSeq
          val byId: Map[Int, StructField] =
            schemaFields.map(n => n.get("id").asInt() -> schema(n.get("name").asText())).toMap
          val idByName: Map[String, Int] =
            schemaFields.map(n => n.get("name").asText() -> n.get("id").asInt()).toMap
          // bucket fields are not range-expressible; prune them by
          // EQUALITY conjuncts of the filter (source = literal → one
          // expected bucket id per field)
          val bucketExpect: Map[String, Set[Int]] =
            bucketEqualityTargets(specFields, expr)
          base.filter { e =>
            // partition values become per-file bounds on the SOURCE
            // column — exact for identity (lower = upper = the value),
            // transform-derived ranges for day/month/year/hour/truncate
            // — pruned through the same machinery as the footer stats
            var lo = e.lower; var hi = e.upper; var nulls = e.nullCounts
            specFields.foreach { pf =>
              val id = idByName(pf.source.name)
              e.partition.get(pf.specName) match {
                case Some(null) if pf.isIdentity =>
                  nulls += id -> e.rows // a true NULL partition
                case Some(v) =>
                  IcebergTransforms.sourceBounds(pf, v).foreach { case (l, h) =>
                    IcebergStats.encodeValue(pf.source.dataType, l)
                      .foreach(b => lo += id -> b)
                    Option(h).flatMap(hh =>
                      IcebergStats.encodeValue(pf.source.dataType, hh))
                      .foreach(b => hi += id -> b)
                    if (pf.isIdentity) nulls += id -> 0L
                  }
                case _ => () // manifest carries no value — unknown, never prune on it
              }
            }
            val bucketOk = bucketExpect.forall { case (specName, expected) =>
              e.partition.get(specName) match {
                case Some(b: java.lang.Integer) => expected.contains(b.intValue())
                case _ => true // unknown value — never prune on it
              }
            }
            val st = IcebergStats.toFileStats(schema, byId, e.rows, lo, hi, nulls)
            bucketOk && ParquetStats.mayMatch(Some(st), expr)
          }
      }
    }
    val posAll = dedupeEntries(entries.filter(_.content == 1))
    // v3 deletion vectors ride the position-delete content id with
    // PUFFIN format; the spec invariant is at most ONE DV per data file
    val (dvFiles, posFiles) = posAll.partition(_.fileFormat == "PUFFIN")
    dvFiles.foreach { e =>
      require(e.refDataFile.isDefined && e.contentOffset.isDefined &&
          e.contentSize.isDefined,
        s"deletion vector ${e.path} is missing referenced_data_file/" +
          "content_offset/content_size_in_bytes — not a spec-conformant v3 DV")
    }
    require(dvFiles.map(_.refDataFile.get).distinct.size == dvFiles.size,
      s"multiple deletion vectors reference one data file in $tablePath — " +
        "the v3 spec allows at most one; refusing rather than guessing")
    val eqFiles = dedupeEntries(entries.filter(_.content == 2))
    def finish(df: DataFrame): DataFrame =
      skippingFilter.map(df.filter).getOrElse(df)

    def withLineage(df: DataFrame): DataFrame =
      df.withColumn("__raw_file", col("_metadata.file_path"))
        .withColumn("__pos", col("_metadata.row_index"))
    def scanData(files: Seq[FileEntry]): DataFrame =
      // transform fields need no injection (their SOURCE columns live in
      // the data files); a transform-only spec reads as plain parquet. A
      // MIXED spec forces the injection branch — the hive basePath read
      // would try to discover the transform dirs as partition columns.
      if (partSpec.isEmpty) spark.read.schema(withIds(schema)).parquet(files.map(_.path): _*)
      else scanPartitioned(spark, withIds(schema), partSpec, files,
        forceInject = specFields.exists(!_.isIdentity))
    if (dataFiles.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    if (posAll.isEmpty && eqFiles.isEmpty) { // fast path: no row-level deletes
      val plain = scanData(dataFiles)
      // partition discovery appends partition columns last — restore the
      // declared order (AFTER lineage so _metadata still resolves)
      return finish((if (keepLineage) withLineage(plain) else plain)
        .select(outSchema.fieldNames.map(col).toSeq: _*))
    }

    // ---- positional deletes: one seq-filtered (file, pos) key set -------
    // Parquet position-delete files and v3 Puffin deletion vectors land
    // in the SAME (file, pos, seq) namespace: a DV is just the spec's
    // bitmap encoding of the identical key set, so both union here and
    // the sequence-number rule (delete.seq >= data.seq) applies once.
    val posSet: Option[DataFrame] = if (posAll.isEmpty) None else {
      val parquetRaw: Seq[DataFrame] = if (posFiles.isEmpty) Nil else
        posFiles.groupBy(_.seq).toSeq.map { case (s, fs) =>
          spark.read.schema(StructType(Seq(
            StructField("file_path", StringType), StructField("pos", LongType))))
            .parquet(fs.map(_.path): _*)
            .withColumn("__dseq", lit(s))
            .select(normalizePathCol(col("file_path")).as("__file"),
              col("pos").as("__pos"), col("__dseq"))
        }
      // DV blobs decode in EXECUTOR tasks (one task per bounded slice of
      // the O(files) descriptor list — never a driver-side decode of
      // O(deleted-rows) state), mirroring DeltaScan's DV path
      val dvRaw: Seq[DataFrame] = if (dvFiles.isEmpty) Nil else {
        import spark.implicits._
        val bcConf = spark.sparkContext.broadcast(
          new DeletionVectors.ConfHolder(spark.sessionState.newHadoopConf()))
        val work = dvFiles.map { e =>
          (normalizePath(e.refDataFile.get), e.path,
            e.contentOffset.get, e.contentSize.get, e.seq, e.rows)
        }
        Seq(spark.createDataset(work)
          .repartition(math.min(work.size, 64))
          .flatMap { case (ref, puffin, off, len, s, card) =>
            val pos = Puffin.readDvPositions(bcConf.value.value,
              new Path(puffin), off, len)
            require(pos.length.toLong == card,
              s"deletion vector $puffin decoded ${pos.length} rows but its " +
                s"manifest entry declares $card")
            pos.map(p => (ref, p, s))
          }.toDF("__file", "__pos", "__dseq"))
      }
      val raw = (parquetRaw ++ dvRaw).reduce(_ unionByName _)
      // pre-filter by the data files' sequence numbers so stale deletes
      // (delete.seq < data.seq, e.g. a compacted rewrite) never apply;
      // the per-file seq map is planning metadata, always broadcast-size
      val dataSeq = spark.createDataFrame(
        dataFiles.map(f => (normalizePath(f.path), f.seq))).toDF("__file", "__fseq")
      val eff = raw
        .join(broadcast(dataSeq), Seq("__file"))
        .filter(col("__dseq") >= col("__fseq"))
        .select("__file", "__pos")
      Some(if (posAll.map(_.rows).sum <= deleteBroadcastRows) broadcast(eff) else eff)
    }

    // ---- equality deletes: field ids → top-level columns ----------------
    val fieldById: Map[Int, StructField] = {
      val fields = currentSchema(meta).get("fields").elements().asScala.toSeq
      fields.map(f => f.get("id").asInt() ->
        schema(f.get("name").asText())).toMap
    }
    def eqColumns(ids: Seq[Int]): Seq[StructField] = ids.map { id =>
      fieldById.getOrElse(id, throw new IllegalArgumentException(
        s"equality delete references field id $id which is not a top-level column - " +
          "not supported by the built-in Iceberg reader"))
    }

    def applyDeletes(group: Seq[FileEntry], applicableEq: Seq[FileEntry]): DataFrame = {
      // lineage resolves on the scan relation (a projection would hide
      // the metadata pseudo-column), then rides the anti-joins
      var scan = withLineage(scanData(group))
      posSet.foreach { pos =>
        scan = scan
          .withColumn("__file", normalizePathCol(col("__raw_file")))
          .join(pos, Seq("__file", "__pos"), "left_anti")
          .drop("__file")
      }
      applicableEq.groupBy(_.eqIds).foldLeft(scan) { case (acc, (ids, files)) =>
        val fields = eqColumns(ids)
        // id-stamped tables read delete-file key columns by id too — an
        // equality delete written before a rename keeps applying after
        val del0 = spark.read.schema(withIds(StructType(fields)))
          .parquet(files.map(_.path): _*)
        val del = if (files.map(_.rows).sum <= deleteBroadcastRows) broadcast(del0) else del0
        val a = acc.as("d")
        val x = del.as("x")
        // spec: an equality delete row matches on null-safe equality
        val cond = fields.map(f => col(s"d.${f.name}") <=> col(s"x.${f.name}")).reduce(_ && _)
        a.join(x, cond, "left_anti")
      }
    }

    // group data files by WHICH equality deletes apply (delete.seq >
    // data.seq) — distinct sequence numbers are few, so each data file
    // is scanned exactly once and the union stays small
    val groups = dataFiles.groupBy(f => eqFiles.filter(_.seq > f.seq).map(_.path).toSet)
    finish(groups.toSeq.sortBy(_._2.head.path).map { case (eqSet, group) =>
      applyDeletes(group, eqFiles.filter(e => eqSet(e.path)))
        .select(outSchema.fieldNames.map(col).toSeq: _*)
    }.reduce(_ unionByName _))
  }

  /** planning surface for [[IcebergWrite.deleteWhere]]: the current
    * snapshot's spec-derived schema and live DATA file paths (resolved
    * absolute) — delete files excluded */
  private[graft] def currentDataFiles(
      spark: SparkSession, tablePath: String): (StructType, Seq[String]) = {
    val (schema, entries) = currentEntries(spark, tablePath)
    (schema, entries.filter(_.content == 0).map(_.path))
  }

  /** planning surface for [[IcebergWrite.compact]]: the current
    * snapshot's spec-derived schema and ALL live deduped entries (data
    * AND delete files) with their resolved sequence numbers */
  private[sources] def currentEntries(
      spark: SparkSession, tablePath: String): (StructType, Seq[FileEntry]) = {
    val p = planTable(spark, tablePath)
    (p.schema, dedupeEntries(p.entries))
  }

  /** one manifest-list `field_summary` (field 507/508): per spec-field
    * contains_null + the partition value's single-value-binary bounds */
  private[sources] final case class FieldSummary(
      containsNull: Boolean, lower: Option[Array[Byte]],
      upper: Option[Array[Byte]])

  /** the snapshot's LIVE manifest entries (status DELETED dropped; null
    * entry sequence numbers inherit the manifest's, per spec).
    *
    * `manifestPruner`: MANIFEST-LEVEL SKIPPING — the planner's
    * first-level prune. Given a DATA manifest's (spec-id, field
    * summaries), false means its partition-value bounds PROVE no entry
    * can match the query filter, so the manifest file is never even
    * read: planning cost becomes O(surviving manifests), not O(all) —
    * on a 100 TB table with thousands of manifests, the difference
    * between a point query planning in milliseconds and walking the
    * world. DELETE manifests are never skipped (their rows gate the
    * data files that DO survive); rows without summaries (foreign or
    * legacy writers) are never pruned. */
  private def snapshotEntries(
      fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
      tablePath: String, snapshot: JsonNode,
      manifestPruner: Option[(Int, Seq[FieldSummary]) => Boolean] = scala.None): Seq[FileEntry] = {
    val manifestListPath = snapshot.get("manifest-list").asText()
    def summaryBytes(v: AnyRef): Array[Byte] = v match {
      case b: java.nio.ByteBuffer =>
        val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
      case a: Array[Byte] => a
      case other => other.toString.getBytes("UTF-8")
    }
    val manifests = readAvro(fs, conf, new Path(resolvePath(fs, tablePath, manifestListPath))).map { r =>
      val seq = opt(r, "sequence_number").map(_.toString.toLong).getOrElse(0L)
      val specId = opt(r, "partition_spec_id").map(_.toString.toInt).getOrElse(0)
      val content = opt(r, "content").map(_.toString.toInt).getOrElse(0)
      val summaries: Option[Seq[FieldSummary]] =
        if (r.getSchema.getField("partitions") == null) scala.None
        else Option(r.get("partitions")).collect { case l: java.util.Collection[_] =>
          l.asScala.collect { case fr: GenericRecord =>
            FieldSummary(fr.get("contains_null").toString.toBoolean,
              Option(fr.get("lower_bound")).map(summaryBytes),
              Option(fr.get("upper_bound")).map(summaryBytes))
          }.toSeq
        }
      (r.get("manifest_path").toString, seq, specId, content, summaries)
    }.collect {
      case (mp, seq, specId, content, summaries)
          if content != 0 || manifestPruner.isEmpty || summaries.isEmpty ||
            manifestPruner.get(specId, summaries.get) =>
        (mp, seq, specId)
    }
    // planning-size counters: the entry list is O(live files) DRIVER
    // memory — count entries and approximate bytes AS THE WALK RUNS so
    // an oversized table aborts early and loudly ([[PlanningGuard]]),
    // not as an OOM after materializing everything
    var planFiles = 0L
    var planBytes = 0L
    manifests.flatMap { case (mp, mSeq, mSpecId) =>
      readAvro(fs, conf, new Path(resolvePath(fs, tablePath, mp))).flatMap { entry =>
        val status = entry.get("status").toString.toInt
        if (status == 2) None // DELETED
        else {
          val df = entry.get("data_file").asInstanceOf[GenericRecord]
          val fmt = df.get("file_format").toString
          val content = opt(df, "content").map(_.toString.toInt).getOrElse(0)
          // parquet everywhere; PUFFIN only as a v3 deletion vector
          // (content=1 position deletes addressed by fields 143-145)
          require(fmt.equalsIgnoreCase("parquet") ||
              (fmt.equalsIgnoreCase("puffin") && content == 1),
            s"file format $fmt (content=$content) not supported by the " +
              "built-in Iceberg reader")
          val seq = opt(entry, "sequence_number").map(_.toString.toLong).getOrElse(mSeq)
          val eqIds = opt(df, "equality_ids").collect {
            case l: java.util.Collection[_] => l.asScala.map(_.toString.toInt).toSeq
          }.getOrElse(Seq.empty)
          val rows = opt(df, "record_count").map(_.toString.toLong).getOrElse(0L)
          def bytesOf(v: AnyRef): Array[Byte] = v match {
            case b: java.nio.ByteBuffer =>
              val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
            case a: Array[Byte] => a
            case other => other.toString.getBytes("UTF-8")
          }
          def kvMap[A](name: String)(conv: AnyRef => A): Map[Int, A] =
            opt(df, name).collect { case l: java.util.Collection[_] =>
              l.asScala.collect { case r: GenericRecord =>
                r.get("key").toString.toInt -> conv(r.get("value").asInstanceOf[AnyRef])
              }.toMap
            }.getOrElse(Map.empty)
          val partition: Map[String, AnyRef] =
            opt(df, "partition").collect { case r: GenericRecord =>
              r.getSchema.getFields.asScala.map { f =>
                f.name() -> (r.get(f.pos()) match {
                  case u: org.apache.avro.util.Utf8 => u.toString: AnyRef
                  case other => other
                })
              }.toMap
            }.getOrElse(Map.empty)
          val fe = FileEntry(resolvePath(fs, tablePath, df.get("file_path").toString),
            seq, content, eqIds, rows,
            lower = kvMap("lower_bounds")(bytesOf),
            upper = kvMap("upper_bounds")(bytesOf),
            nullCounts = kvMap("null_value_counts")(_.toString.toLong),
            partition = partition, specId = mSpecId,
            bytes = opt(df, "file_size_in_bytes").map(_.toString.toLong).getOrElse(0L),
            sortOrderId = opt(df, "sort_order_id").map(_.toString.toInt),
            fileFormat = fmt.toUpperCase(java.util.Locale.ROOT),
            refDataFile = opt(df, "referenced_data_file")
              .map(p => resolvePath(fs, tablePath, p.toString)),
            contentOffset = opt(df, "content_offset").map(_.toString.toLong),
            contentSize = opt(df, "content_size_in_bytes").map(_.toString.toLong),
            firstRowId = opt(df, "first_row_id").map(_.toString.toLong))
          planFiles += 1
          planBytes += 96L + fe.path.length +
            fe.lower.valuesIterator.map(_.length + 16L).sum +
            fe.upper.valuesIterator.map(_.length + 16L).sum +
            24L * fe.nullCounts.size + 48L * fe.partition.size
          PlanningGuard.check(tablePath, planFiles, planBytes)
          Some(fe)
        }
      }
    }
  }

  /** a path re-listed across manifests (EXISTING entries) keeps its
    * highest sequence number */
  /** one entry per FILE — except Puffin files, which hold many DV
    * blobs by design (one per referenced data file): there the blob
    * address is part of the identity or co-located DVs would collapse */
  private[sources] def dedupeEntries(es: Seq[FileEntry]): Seq[FileEntry] =
    es.groupBy(e => (e.path, e.contentOffset)).values.map(_.maxBy(_.seq))
      .toSeq.sortBy(e => (e.path, e.contentOffset.getOrElse(-1L)))

  /** INCREMENTAL READ — rows in data files that are live in
    * `toSnapshot` but absent from `fromSnapshot` (the snapshot-diff
    * CDC-consumer surface, parity with
    * [[graft.sources.DeltaScan.readChanges]]). Strictly append-only by
    * construction: a data file that DISAPPEARED across the range, or
    * any row-level delete file on either side, fails loudly toward a
    * full-snapshot recompute. */
  def readChanges(
      spark: SparkSession,
      tablePath: String,
      fromSnapshot: Long,
      toSnapshot: Long): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val metaDir = new Path(tablePath, "metadata")
    val fs = metaDir.getFileSystem(conf)
    val meta = parseMetadata(fs, metaDir)
    val schema = sparkSchema(currentSchema(meta))
    val snapshots = Option(meta.get("snapshots"))
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    def node(id: Long): JsonNode =
      snapshots.find(_.get("snapshot-id").asLong() == id).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $id not found in $tablePath " +
            s"(have ${snapshots.map(_.get("snapshot-id").asLong()).mkString(",")})"))
    val fromE = snapshotEntries(fs, conf, tablePath, node(fromSnapshot))
    val toE = snapshotEntries(fs, conf, tablePath, node(toSnapshot))
    require((fromE ++ toE).forall(_.content == 0),
      s"Iceberg table $tablePath carries row-level delete files in the " +
        s"($fromSnapshot, $toSnapshot] range — not an append-only increment; " +
        "recompute from the full snapshot")
    val fromPaths = dedupeEntries(fromE).map(_.path).toSet
    val toPaths = dedupeEntries(toE).map(_.path).toSet
    val vanished = fromPaths -- toPaths
    require(vanished.isEmpty,
      s"Iceberg data files ${vanished.take(3).mkString(", ")} disappeared across " +
        s"($fromSnapshot, $toSnapshot] — not an append-only increment; " +
        "recompute from the full snapshot")
    val added = dedupeEntries(toE).filter(e => !fromPaths.contains(e.path))
    if (added.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      val partSpec = identityPartitionFields(meta, schema)
      val mixed = partitionSpecFields(meta, schema).exists(!_.isIdentity)
      if (partSpec.isEmpty)
        spark.read.schema(schema).parquet(added.map(_.path).sorted: _*)
      else scanPartitioned(spark, schema, partSpec, added, forceInject = mixed)
        .select(schema.fieldNames.map(col).toSeq: _*)
    }
  }

  /** current table schema without planning any files — the streaming
    * source's inferSchema surface */
  private[graft] def tableSchema(spark: SparkSession, tablePath: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val metaDir = new Path(tablePath, "metadata")
    val meta = parseMetadata(metaDir.getFileSystem(conf), metaDir)
    val schema = sparkSchema(currentSchema(meta))
    // id-stamped tables expose field ids in the schema metadata, so the
    // streaming source's parquet-mr decode resolves renamed columns by
    // id in pre-rename files (same contract as the batch reader)
    val idStamped = Option(meta.get("properties"))
      .flatMap(p => Option(p.get(IcebergWrite.FieldIdsProp)))
      .exists(_.asText() == "true")
    if (!idStamped) schema
    else {
      val idByName = currentSchema(meta).get("fields").elements().asScala
        .map(f => f.get("name").asText() -> f.get("id").asLong()).toMap
      StructType(schema.fields.map(f => idByName.get(f.name).map(id =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong("parquet.field.id", id).build()))
        .getOrElse(f)))
    }
  }

  /** identity-partition spec field names (empty when unpartitioned) —
    * the streaming source parses these columns' values from the hive
    * path segments of each planned file */
  private[graft] def partitionSpecNames(spark: SparkSession, tablePath: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val metaDir = new Path(tablePath, "metadata")
    val meta = parseMetadata(metaDir.getFileSystem(conf), metaDir)
    identityPartitionFields(meta, sparkSchema(currentSchema(meta))).map(_._1)
  }

  /** latest committed metadata version — the streaming source's offset
    * domain. Listed from the `vN.metadata.json` files themselves (each
    * an atomic overwrite=false create, THE commit point) rather than
    * version-hint.text: the hint rewrite is not atomic, so a poll
    * racing a concurrent writer could read an empty hint. */
  private[graft] def latestMetadataVersion(spark: SparkSession, tablePath: String): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val metaDir = new Path(tablePath, "metadata")
    val fs = metaDir.getFileSystem(conf)
    require(fs.exists(metaDir), s"no Iceberg table at $tablePath")
    val versions = fs.listStatus(metaDir).toSeq.map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+\\.metadata\\.json") =>
        n.stripPrefix("v").stripSuffix(".metadata.json").toInt }
    require(versions.nonEmpty, s"no Iceberg metadata versions at $tablePath")
    versions.max
  }

  /** STREAMING-SOURCE planning: the data files ADDED by metadata
    * version `v` relative to `v-1`, resolved absolute — loud on any
    * shape an append-only stream cannot represent. Appends return
    * their new files; a row-count-preserving `replace` (compaction /
    * recluster) returns nothing (no data change — the Delta stream's
    * dataChange=false analog); delete/overwrite/rollback and any live
    * row-level delete file fail loudly (a streaming consumer cannot
    * retract rows it already emitted). Planning reads only the two
    * versions' metadata JSON + manifests — KBs, never data. */
  private[graft] def versionIncrement(
      spark: SparkSession, tablePath: String, v: Int): Seq[String] =
    versionIncrementSized(spark, tablePath, v).map(_._1)

  /** [[versionIncrement]] + each new file's manifest-recorded
    * file_size_in_bytes — the streaming source's admission control
    * accounts bytes from planning state, no filesystem stat. */
  private[graft] def versionIncrementSized(
      spark: SparkSession, tablePath: String, v: Int): Seq[(String, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val metaDir = new Path(tablePath, "metadata")
    val fs = metaDir.getFileSystem(conf)
    val mapper = new ObjectMapper()
    def metaAt(n: Int): JsonNode = {
      val p = new Path(metaDir, s"v$n.metadata.json")
      require(fs.exists(p),
        s"streaming source lost metadata version $n of $tablePath (expired?)")
      val in = fs.open(p)
      try mapper.readTree(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
    def snapshotOf(meta: JsonNode): Option[JsonNode] =
      Option(meta.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L)
        .flatMap { id =>
          Option(meta.get("snapshots")).flatMap(_.elements().asScala
            .find(_.get("snapshot-id").asLong() == id))
        }
    def live(meta: JsonNode): Seq[FileEntry] =
      snapshotOf(meta).map(s => dedupeEntries(snapshotEntries(fs, conf, tablePath, s)))
        .getOrElse(Seq.empty)

    val cur = metaAt(v)
    val prevEntries = if (v <= 1) Seq.empty else live(metaAt(v - 1))
    val curEntries = live(cur)
    require((prevEntries ++ curEntries).forall(_.content == 0),
      s"Iceberg table $tablePath carries live row-level delete files at " +
        s"version $v — an append-only stream cannot retract already-emitted " +
        "rows; use the batch reader for tables with deletes")
    val prevPaths = prevEntries.map(_.path).toSet
    val curPaths = curEntries.map(_.path).toSet
    val vanished = prevPaths -- curPaths
    if (vanished.isEmpty) {
      val bytesOf = curEntries.map(e => e.path -> e.bytes).toMap
      (curPaths -- prevPaths).toSeq.sorted.map(p => p -> bytesOf(p))
    } else {
      // files were rewritten: only a row-preserving replace (compaction,
      // recluster) is append-only-safe, and it emits nothing new
      val op = snapshotOf(cur)
        .flatMap(s => Option(s.get("summary")).flatMap(x => Option(x.get("operation"))))
        .map(_.asText()).getOrElse("unknown")
      require(op == "replace",
        s"version $v of $tablePath removes data files (operation '$op' — " +
          "delete/update/merge/rollback): an append-only stream cannot " +
          "retract already-emitted rows; re-derive downstream state from " +
          "the batch reader instead")
      require(prevEntries.map(_.rows).sum == curEntries.map(_.rows).sum,
        s"replace snapshot at version $v of $tablePath changed the row " +
          "count — not a pure compaction; the stream cannot stay consistent")
      Seq.empty
    }
  }

  /** One manifest entry's file: data (content 0), positional deletes (1),
    * or equality deletes (2), with its resolved data sequence number.
    * `partition` carries the manifest partition record's values by spec
    * field name (String/Long/Integer/Boolean/epoch-day Integer, null
    * for a NULL partition); empty for unpartitioned tables. */
  private[graft] final case class FileEntry(
      path: String, seq: Long, content: Int, eqIds: Seq[Int], rows: Long,
      lower: Map[Int, Array[Byte]] = Map.empty,
      upper: Map[Int, Array[Byte]] = Map.empty,
      nullCounts: Map[Int, Long] = Map.empty,
      partition: Map[String, AnyRef] = Map.empty,
      // the owning manifest's partition-spec-id: a rewrite must carry a
      // kept file forward under its ORIGINAL spec (one manifest per
      // spec), never re-stamp it with the current default — a null
      // transform value under the new spec means "source is null" to
      // external partition evaluators, which would silently prune it
      specId: Int = 0,
      // manifest-recorded file_size_in_bytes — broadcast-budget
      // estimation reads it from planning state, no filesystem stat
      bytes: Long = 0L,
      // data_file.sort_order_id (field 140): the table sort order the
      // file's rows are sorted by; None/null = unsorted. Carried
      // verbatim when a rewrite keeps the file (the rows don't move,
      // their ordering claim must not change either)
      sortOrderId: Option[Int] = scala.None,
      // v3 deletion vectors: file_format ("PARQUET" | "PUFFIN"), the
      // referenced data file (field 143, resolved absolute), and the DV
      // blob's address inside the Puffin file (fields 144/145) — the
      // spec records the address in the manifest so readers skip the
      // Puffin footer entirely
      fileFormat: String = "PARQUET",
      refDataFile: Option[String] = scala.None,
      contentOffset: Option[Long] = scala.None,
      contentSize: Option[Long] = scala.None,
      // v3 row lineage: the data file's explicitly-assigned first row id
      // (field 142). Carried VERBATIM when a rewrite keeps the file so
      // its rows' ids stay stable across compactions
      firstRowId: Option[Long] = scala.None)

  /** bucket spec fields constrained by top-level EQUALITY conjuncts of
    * the pruning filter (`source = lit` / `source IN (...)` → the
    * allowed bucket ids) — the one predicate shape a hash transform can
    * prune on. Cast-wrapped attributes and disjunctions stay
    * unconstrained (never prune on a shape we cannot prove). */
  private def bucketEqualityTargets(
      specFields: Seq[IcebergTransforms.PartField],
      pred: org.apache.spark.sql.catalyst.expressions.Expression): Map[String, Set[Int]] = {
    import org.apache.spark.sql.catalyst.expressions._
    val buckets = specFields.filter(_.transform == "bucket")
    if (buckets.isEmpty) return Map.empty
    def attrName(e: Expression): Option[String] = e match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(a.nameParts.mkString("."))
      case a: AttributeReference => Some(a.name)
      case _ => scala.None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val out = scala.collection.mutable.Map.empty[String, Set[Int]]
    def constrain(name: String, values: Seq[Any]): Unit =
      buckets.filter(_.source.name == name).foreach { pf =>
        val ids = values.map(v =>
          IcebergTransforms.bucketOf(pf.source.dataType, v, pf.param)).toSet
        out(pf.specName) = out.get(pf.specName).map(_ intersect ids).getOrElse(ids)
      }
    conjuncts(pred).foreach {
      case EqualTo(a, Literal(v, _)) if v != null =>
        attrName(a).foreach(constrain(_, Seq(v)))
      case EqualTo(Literal(v, _), a) if v != null =>
        attrName(a).foreach(constrain(_, Seq(v)))
      case In(a, list) if list.nonEmpty && list.forall(_.isInstanceOf[Literal]) =>
        attrName(a).foreach(constrain(_,
          list.collect { case Literal(v, _) if v != null => v }))
      case _ => ()
    }
    out.toMap
  }

  /** current schema + default partition spec of the table — the
    * planning surface [[BucketJoin]] aligns two tables' bucket layouts
    * with (one metadata JSON read, no data I/O) */
  private[sources] def partitionFields(spark: SparkSession,
      tablePath: String): (StructType, Seq[IcebergTransforms.PartField]) = {
    val conf = spark.sessionState.newHadoopConf()
    val metaDir = new Path(tablePath, "metadata")
    val meta = parseMetadata(metaDir.getFileSystem(conf), metaDir)
    val schema = sparkSchema(currentSchema(meta))
    (schema, partitionSpecFields(meta, schema))
  }

  /** [[partitionFields]] from already-planned state (no metadata read) */
  private[sources] def partitionFieldsOf(
      planned: PlannedTable): Seq[IcebergTransforms.PartField] =
    partitionSpecFields(planned.meta, planned.schema)

  /** the planned snapshot's live DATA entries, deduped */
  private[sources] def dedupedDataEntries(
      planned: PlannedTable): Seq[FileEntry] =
    dedupeEntries(planned.entries.filter(_.content == 0))

  /** the table's default partition spec, parsed into transform-aware
    * fields ([[IcebergTransforms.PartField]] — identity plus the
    * hidden-partitioning transforms day/month/year/hour/bucket/
    * truncate); unknown transforms are loud, `void` fields (dropped
    * partitions) contribute nothing. */
  private def partitionSpecFields(
      meta: JsonNode, schema: StructType): Seq[IcebergTransforms.PartField] = {
    val fieldsNode = Option(meta.get("partition-specs")).flatMap { specs =>
      val d = Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0)
      specs.elements().asScala.find(_.get("spec-id").asInt() == d).map(_.get("fields"))
    }.orElse(Option(meta.get("partition-spec")))
    val nameById = currentSchema(meta).get("fields").elements().asScala
      .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    fieldsNode.map(n => IcebergTransforms.fromSpecJson(n.toString, nameById, schema))
      .getOrElse(Seq.empty)
  }

  /** the registered spec `specId`'s fields paired with their original
    * spec slot positions, or None when unknown (a manifest under an
    * unparseable spec is never pruned on) */
  private def partitionSpecFieldsById(meta: JsonNode, schema: StructType,
      specId: Int): Option[Seq[(Int, IcebergTransforms.PartField)]] = {
    val fromRegistry = Option(meta.get("partition-specs")).flatMap { specs =>
      specs.elements().asScala.find(_.get("spec-id").asInt() == specId)
        .map(_.get("fields"))
    }
    // pre-evolution tables carry only the legacy single-spec key,
    // which describes the default spec (id 0 by construction)
    val defaultId = Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0)
    fromRegistry.orElse(
      if (specId == defaultId) Option(meta.get("partition-spec")) else scala.None)
      .flatMap { n =>
        val nameById = currentSchema(meta).get("fields").elements().asScala
          .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
        scala.util.Try(
          IcebergTransforms.fromSpecJsonIndexed(n.toString, nameById, schema)).toOption
      }
  }

  /** identity view of the spec: (spec field name, source field) */
  private def identityPartitionFields(
      meta: JsonNode, schema: StructType): Seq[(String, StructField)] =
    partitionSpecFields(meta, schema)
      .filter(_.isIdentity).map(pf => pf.specName -> pf.source)

  /** Partition-aware data scan. Hive-layout tables (every file path
    * carries `name=value` segments under one base — this writer's and
    * the reference java writer's identity layout) read as ONE
    * partition-discovered scan: partition pruning, lineage metadata
    * columns, and pushed filters all work natively. Other layouts fall
    * back to manifest-value injection, one scan per live partition
    * tuple (bounded: the plan grows with touched partitions — the same
    * cost class any engine pays for a non-path-derivable layout). */
  private[graft] def scanPartitioned(spark: SparkSession, schema: StructType,
      partSpec: Seq[(String, StructField)], files: Seq[FileEntry],
      forceInject: Boolean = false): DataFrame = {
    val firstSeg = "/" + partSpec.head._1 + "="
    val bases = files.map { f =>
      val i = f.path.indexOf(firstSeg)
      if (i < 0) null else f.path.substring(0, i)
    }
    val hive = !forceInject && bases.forall(_ != null) && bases.distinct.size == 1 &&
      files.forall(f => IcebergWrite.hivePathValues(f.path, partSpec.map(_._1)).isDefined)
    if (hive)
      spark.read.option("basePath", bases.head)
        .schema(schema).parquet(files.map(_.path): _*)
    else {
      // inject only the spec fields EVERY manifest entry carries a
      // value for; the rest read from the data files themselves (the
      // spec permits identity source columns to be materialized there)
      val injectable = partSpec.filter { case (sn, _) => files.forall(_.partition.contains(sn)) }
      val injectNames = injectable.map(_._2.name).toSet
      val dataOnly = StructType(schema.fields.filterNot(f => injectNames.contains(f.name)))
      val groups = files.groupBy(f => injectable.map { case (sn, _) => f.partition(sn) })
      require(groups.size <= 10000,
        s"non-hive-layout partitioned table touches ${groups.size} partition " +
          "tuples in one scan — restrict the file set (snapshot filter) or " +
          "rewrite to a path-derivable layout")
      groups.toSeq.sortBy(_._2.head.path).map { case (vals, fsG) =>
        val base = spark.read.schema(dataOnly).parquet(fsG.map(_.path): _*)
        val withParts = injectable.zip(vals).foldLeft(base) {
          case (df, ((_, sf), v)) => df.withColumn(sf.name, partitionLit(sf, v))
        }
        withParts.select(schema.fieldNames.map(col).toSeq: _*)
      }.reduce(_ unionByName _)
    }
  }

  /** a manifest partition value as a TYPED literal column */
  private def partitionLit(sf: StructField, v: AnyRef): org.apache.spark.sql.Column =
    (sf.dataType, v) match {
      case (_, null) => lit(null).cast(sf.dataType)
      case (DateType, i: java.lang.Integer) =>
        lit(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue())))
      case (LongType, l: java.lang.Long) => lit(l.longValue())
      case (IntegerType, i: java.lang.Integer) => lit(i.intValue())
      case (ShortType, i: java.lang.Integer) => lit(i.shortValue())
      case (ByteType, i: java.lang.Integer) => lit(i.byteValue())
      case (BooleanType, b: java.lang.Boolean) => lit(b.booleanValue())
      case (StringType, s) => lit(s.toString)
      case (dt, other) => throw new IllegalArgumentException(
        s"partition column '${sf.name}': manifest value $other " +
          s"(${other.getClass.getSimpleName}) does not fit ${dt.sql}")
    }

  /** Broadcast a delete key set below this many declared rows. */
  private val deleteBroadcastRows = 4L * 1000 * 1000

  /** Field access tolerant of fixtures/writers whose Avro schema omits an
    * optional field entirely (GenericData.Record.get(String) THROWS on
    * unknown names rather than returning null). */
  private def opt(r: GenericRecord, field: String): Option[AnyRef] =
    if (r.getSchema.getField(field) == null) None else Option(r.get(field))

  private[sources] def normalizePath(p: String): String =
    p.replaceFirst("^[A-Za-z][A-Za-z0-9+.\\-]*:/+", "/")

  private[sources] def normalizePathCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.\\-]*:/+", "/")

  /** Latest table metadata as parsed JSON: prefer version-hint.text
    * (HadoopTables), else the lexically-highest *.metadata.json. */
  private def parseMetadata(fs: FileSystem, metaDir: Path): JsonNode = {
    require(fs.exists(metaDir), s"no Iceberg metadata directory at $metaDir")
    val mapper = new ObjectMapper()
    val hint = new Path(metaDir, "version-hint.text")
    val metaFile =
      if (fs.exists(hint)) {
        val v = readUtf8(fs, hint).trim
        val cands = Seq(s"v$v.metadata.json", s"$v.metadata.json").map(new Path(metaDir, _))
        cands.find(fs.exists).getOrElse(throw new IllegalStateException(
          s"version-hint.text names version $v but no matching metadata file exists in $metaDir"))
      } else {
        val all = fs.listStatus(metaDir).map(_.getPath)
          .filter(_.getName.endsWith(".metadata.json"))
        require(all.nonEmpty, s"no *.metadata.json under $metaDir")
        all.maxBy(_.getName) // vN / 00000N-uuid both sort by version
      }
    mapper.readTree(readUtf8(fs, metaFile))
  }

  /** the table's current schema as spec JSON — for
    * [[IcebergWrite.deleteWhere]]'s metadata carry-forward */
  private[sources] def currentSchemaJson(meta: JsonNode): String =
    currentSchema(meta).toString

  /** v2 keeps a `schemas` array + `current-schema-id`; v1 a single
    * `schema` field. */
  private[sources] def currentSchema(meta: JsonNode): JsonNode = {
    val v2 = for {
      schemas <- Option(meta.get("schemas"))
      id <- Option(meta.get("current-schema-id")).map(_.asInt())
      s <- schemas.elements().asScala.find(_.get("schema-id").asInt() == id)
    } yield s
    v2.orElse(Option(meta.get("schema"))).getOrElse(
      throw new IllegalStateException("Iceberg metadata has no schema"))
  }

  /** Iceberg schema JSON → Spark StructType (public spec type names). */
  private[graft] def sparkSchema(schemaNode: JsonNode): StructType =
    StructType(schemaNode.get("fields").elements().asScala.map { f =>
      val dt = sparkType(f.get("type"))
      // v3 default values: `initial-default` is what rows written
      // BEFORE the field existed read — Spark's parquet reader applies
      // the EXISTS_DEFAULT field-metadata key to columns MISSING from a
      // file's physical schema (stored columns always win), which is
      // exactly that semantic. Unservable shapes stay conservative
      // (no metadata → NULL, the pre-v3 behavior).
      val meta = Option(f.get("initial-default"))
        .filterNot(_.isNull)
        .flatMap(n => ColumnDefaults.sqlFromIcebergJson(dt, n))
        .map(sql => new org.apache.spark.sql.types.MetadataBuilder()
          .putString("EXISTS_DEFAULT", sql).build())
        .getOrElse(org.apache.spark.sql.types.Metadata.empty)
      StructField(f.get("name").asText(), dt,
        nullable = !f.get("required").asBoolean(false), metadata = meta)
    }.toSeq)

  private val decimalRe = """decimal\((\d+),\s*(\d+)\)""".r

  private def sparkType(t: JsonNode): DataType =
    if (t.isTextual) t.asText() match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case "string" => StringType
      case "binary" => BinaryType
      case decimalRe(p, s) => DecimalType(p.toInt, s.toInt)
      case other => throw new IllegalArgumentException(
        s"Iceberg type '$other' not supported by the built-in reader")
    } else t.get("type").asText() match {
      case "struct" => sparkSchema(t)
      case "list" =>
        ArrayType(sparkType(t.get("element")),
          containsNull = !t.get("element-required").asBoolean(false))
      case "map" =>
        MapType(sparkType(t.get("key")), sparkType(t.get("value")),
          valueContainsNull = !t.get("value-required").asBoolean(false))
      case other => throw new IllegalArgumentException(
        s"Iceberg nested type '$other' not supported")
    }

  /** Manifest paths are absolute URIs in real tables; tolerate relative
    * ones (hand-built fixtures) by resolving against the table root.
    * Always fully qualify the result (scheme + absolute path) so the
    * keys this planner hands out live in the same namespace as
    * `_metadata.file_path` — with a RELATIVE tablePath an unqualified
    * key would never match the absolute `_metadata` URI and position
    * deletes would be silently ignored. */
  private def resolvePath(fs: FileSystem, tablePath: String, p: String): String = {
    val raw = if (p.contains("://") || p.startsWith("/")) new Path(p)
              else new Path(tablePath, p)
    fs.makeQualified(raw).toString
  }

  private[sources] def readAvro(fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
      path: Path): Seq[GenericRecord] = {
    val in = new FsInput(path, conf)
    val reader = DataFileReader.openReader(in, new GenericDatumReader[GenericRecord]())
    try reader.iterator().asScala.toVector finally reader.close()
  }

  private[sources] def readUtf8(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }
}
