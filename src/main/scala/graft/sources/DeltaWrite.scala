package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Minimal dependency-free Delta Lake WRITER — the sink half of the
  * built-in lakehouse support (reader: [[DeltaScan]]). Writes the
  * public transaction-log protocol directly: data files are plain
  * parquet written by Spark's own writer (hive layout when
  * partitioned), each commit is one `_delta_log/%020d.json` with
  * `protocol`/`metaData` (version 0) and `add` actions.
  *
  * Scope: create + append with CONDITIONAL commits — the log file is
  * created with overwrite=false, so two writers racing to the same
  * version fail loudly (ConcurrentModificationException) instead of
  * clobbering each other; what real connectors add on top is the
  * RETRY loop (re-read log, re-validate, re-commit at the next
  * version), plus checkpoints and compaction. Any engine's Delta
  * reader (including [[DeltaScan]], spec + gate round-tripped) reads
  * the result.
  *
  * Scale: the data write is Spark's distributed parquet writer —
  * partitioning, task parallelism, and file sizing are untouched; the
  * log commit is one driver-side metadata file listing only the NEW
  * files (~100 B each), the same planning-index cost every Delta
  * writer pays.
  */
object DeltaWrite {
  import TableCommit.{jstr, Staged}

  /** Create a new Delta table at `tablePath` (commit 0). Fails if a
    * Delta log already exists there.
    *
    * `partitionBy` entries are bare column names (identity layout) or
    * hidden-partitioning transforms (`day(ts)`, `month(ts)`,
    * `year(ts)`, `hour(ts)`, `truncate(W, c)`) — a transform becomes a
    * GENERATED COLUMN: a real schema column whose field metadata
    * carries `delta.generationExpression` (plain Spark SQL any Delta
    * engine can evaluate), derived on every write path and partitioned
    * by; reads prune on the SOURCE column through the bounds each
    * file's partition value implies ([[DeltaTransforms]]). `bucket` is
    * Iceberg-only (its spec hash is not SQL-expressible) — refused. */
  def create(spark: SparkSession, df: DataFrame, tablePath: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(tablePath, "_delta_log")),
      s"Delta log already exists at $tablePath — use append")
    val (ddf, parts) = withGenerated(df, partitionBy)
    commit(spark, fs, ddf, tablePath, parts, version = 0L)
  }

  /** transform `partitionBy` entries → generated columns appended to
    * `df` with their generation SQL recorded in field metadata */
  private def withGenerated(df: DataFrame,
      partitionBy: Seq[String]): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.functions.{col, expr}
    val parsed = partitionBy.map(DeltaTransforms.parseEntry(_, df.schema))
    if (parsed.forall(_.isLeft)) (df, partitionBy)
    else {
      val genCols = parsed.collect { case Right(pf) =>
        require(!df.schema.fieldNames.contains(pf.specName),
          s"derived partition column '${pf.specName}' collides with a data column")
        val sql = DeltaTransforms.genSql(pf)
        expr(sql).as(pf.specName, new org.apache.spark.sql.types.MetadataBuilder()
          .putString(DeltaTransforms.GenExprKey, sql).build())
      }
      (df.select(df.columns.map(col).toSeq ++ genCols: _*),
        parsed.map { case Left(n) => n; case Right(pf) => pf.specName })
    }
  }

  /** recompute the table's generated columns on an incoming frame —
    * added if absent, OVERWRITTEN if present (the generation expression
    * is the contract; trusting caller-provided values would let one bad
    * writer break partition pruning for every reader) — and auto-fill
    * `partitionBy` from the declared partitions when the caller passed
    * none (the hidden-partitioning UX: callers never name derived
    * columns). */
  private def deriveGenerated(
      md: Option[com.fasterxml.jackson.databind.JsonNode],
      df: DataFrame, partitionBy: Seq[String]): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.functions.{col, expr}
    md match {
      case scala.None => (df, partitionBy)
      case Some(m) =>
        val declared = DataType.fromJson(m.get("schemaString").asText())
          .asInstanceOf[StructType]
        val gens = DeltaTransforms.generatedFields(declared)
        if (gens.isEmpty) (df, partitionBy)
        else {
          val genNames = gens.map(_._1.name).toSet
          val keep = df.columns.filterNot(genNames.contains).map(col).toSeq
          val derived = gens.map { case (f, sql) =>
            expr(sql).cast(f.dataType).as(f.name, f.metadata)
          }
          val withGen = df.select(keep ++ derived: _*)
          // declared order first, any EXTRA columns (appendEvolve) last
          val ordered = withGen.select(
            (declared.fieldNames.filter(withGen.columns.contains) ++
              withGen.columns.filterNot(declared.fieldNames.contains))
              .map(col).toSeq: _*)
          val declaredParts = Option(m.get("partitionColumns"))
            .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
          (ordered, if (partitionBy.isEmpty) declaredParts else partitionBy)
        }
    }
  }

  /** GENERATED ALWAYS identity columns refuse ops that would fabricate
    * or overwrite their values: merges take whole rows from the source
    * (no `setCols`), updates are checked per SET column */
  private def refuseIdentity(schema: StructType, op: String,
      setCols: Iterable[String] = Nil): Unit =
    identityField(schema).foreach { case (f, _, _, _, allow) =>
      if (setCols.isEmpty)
        require(allow,
          s"$op takes identity column '${f.name}' values from the source, " +
            "but it is GENERATED ALWAYS — create with allowExplicitInsert = " +
            "true, or delete + append instead")
      else require(!setCols.exists(_ == f.name),
        s"$op cannot SET identity column '${f.name}' — its values are generated")
    }

  /** refuse DML assignments that touch a generated column or any
    * column its generation expression reads — in-place rewrites cannot
    * move rows across partition dirs; [[merge]] re-derives and CAN */
  private def refuseGeneratedAssignments(schema: StructType,
      setCols: Iterable[String], op: String): Unit = {
    val gens = DeltaTransforms.generatedFields(schema)
    setCols.foreach { n =>
      gens.foreach { case (f, sql) =>
        require(f.name != n,
          s"$op cannot SET generated column '${f.name}' — its value is " +
            s"defined by `$sql`")
        require(!s"\\b${java.util.regex.Pattern.quote(n)}\\b".r
            .findFirstIn(sql).isDefined,
          s"$op cannot SET '$n': generated partition column '${f.name}' " +
            s"derives from it (`$sql`) and rows would need to move across " +
            "partition directories; use merge for relocating updates")
      }
    }
  }

  /** Append `df` as a new commit. Schema and partitioning are
    * validated against the table's commit-0 `metaData` — a mismatched
    * append would silently corrupt the table otherwise. Generated
    * partition columns are re-derived, never trusted. */
  def append(spark: SparkSession, df: DataFrame, tablePath: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = latestMetaNodeAny(spark, fs, tablePath)
    val declared = md.map(m => DataType.fromJson(m.get("schemaString").asText())
      .asInstanceOf[StructType])
    val dfd = fillColumnDefaults(declared, df)
    declared.flatMap(identityField) match {
      case Some((f, start, step, hwm, allow)) if !dfd.columns.contains(f.name) =>
        // GENERATED identity: assign fresh values above the water mark
        // and advance it in the SAME commit's re-declared metaData
        val (ddf0, parts) = deriveGenerated(md, dfd, partitionBy)
        val (ddf, newHwm, release) = assignIdentity(spark, ddf0, f.name, start, step, hwm, allow)
        validateAgainstMeta(md, ddf, parts)
        // only the water mark moves — every other metadata key (column
        // mapping ids, comments) carries verbatim
        val newSchema = StructType(declared.get.fields.map(g =>
          if (g.name == f.name)
            g.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(g.metadata).putLong(IdHwmKey, newHwm).build())
          else g))
        val declaredParts = Option(md.get.get("partitionColumns"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
        val metaAction = metaDataJson(md.get, newSchema, declaredParts, configOf(md.get))
        val v = DeltaScan.latestVersion(spark, tablePath) + 1
        try commit(spark, fs, ddf, tablePath, parts, version = v,
          metaOverride = Some(metaAction))
        finally release()
      case Some((f, _, _, _, allow)) if !allow =>
        throw new IllegalArgumentException(
          s"identity column '${f.name}' is GENERATED ALWAYS — remove it from " +
            "the frame (values are assigned, never provided; create the table " +
            "with allowExplicitInsert = true to opt out)")
      case _ => // explicit insert allowed, or no identity column
        val (ddf, parts) = deriveGenerated(md, dfd, partitionBy)
        validateAgainstMeta(md, ddf, parts)
        val v = DeltaScan.latestVersion(spark, tablePath) + 1
        commit(spark, fs, ddf, tablePath, parts, version = v, metaNode = md)
    }
  }

  // ---- identity columns (protocol §Identity Columns, writer v6) --------

  private val IdStartKey = "delta.identity.start"
  private val IdStepKey = "delta.identity.step"
  private val IdHwmKey = "delta.identity.highWaterMark"
  private val IdAllowKey = "delta.identity.allowExplicitInsert"

  /** the schema's identity column with (start, step, highWaterMark,
    * allowExplicitInsert), if declared */
  private def identityField(schema: StructType)
      : Option[(StructField, Long, Long, Option[Long], Boolean)] =
    schema.fields.find(_.metadata.contains(IdStartKey)).map { f =>
      val m = f.metadata
      (f, m.getLong(IdStartKey), m.getLong(IdStepKey),
        if (m.contains(IdHwmKey)) Some(m.getLong(IdHwmKey)) else scala.None,
        m.contains(IdAllowKey) && m.getBoolean(IdAllowKey))
    }

  private def identityMetadata(start: Long, step: Long, hwm: Long,
      allow: Boolean): org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(IdStartKey, start).putLong(IdStepKey, step)
      .putLong(IdHwmKey, hwm).putBoolean(IdAllowKey, allow).build()

  /** assign identity values `base + step·i` (i dense across this
    * write's partitions — zipWithIndex: one per-partition count pass,
    * then the indexed map; no global sort, no driver data) and stamp
    * the column's identity metadata with the advanced water mark.
    * Values are unique and strictly beyond the previous mark in step's
    * direction; gaps ACROSS appends are protocol-legal.
    *
    * The input is MATERIALIZED (persisted RDD) before anything is
    * counted: count(), zipWithIndex's internal count job and the
    * eventual parquet write would otherwise each re-evaluate the
    * plan, and a nondeterministic upstream (sample, limit, unordered
    * shuffle) could hand each pass different rows — committing a
    * high-water mark BELOW values actually written, so a later append
    * would mint duplicates. Returned third element releases the cache;
    * callers invoke it AFTER the commit (the output reads the cached
    * partitions). */
  private def assignIdentity(spark: SparkSession, df: DataFrame, idCol: String,
      start: Long, step: Long, prevHwm: Option[Long],
      allow: Boolean): (DataFrame, Long, () => Unit) = {
    val base = prevHwm.map(h => Math.addExact(h, step)).getOrElse(start)
    val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = rdd.count()
    val newHwm =
      if (n == 0L) prevHwm.getOrElse(Math.subtractExact(start, step))
      else Math.addExact(base, Math.multiplyExact(step, n - 1))
    val field = StructField(idCol, LongType, nullable = false,
      metadata = identityMetadata(start, step, newHwm, allow))
    val out = spark.createDataFrame(
      rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (base + step * i)) },
      StructType(df.schema.fields :+ field))
    (out, newHwm, () => { rdd.unpersist(blocking = false); () })
  }

  /** CREATE with an IDENTITY column `idCol` (LongType) APPENDED to the
    * schema — the protocol's Identity Columns (writer feature
    * `identityColumns`): values are GENERATED (`start`, then
    * `+step` per row) unless `allowExplicitInsert`, the high-water mark
    * lives in the column's `delta.identity.highWaterMark` metadata and
    * advances with every [[append]] in the same commit. Two commits:
    * the data (identity metadata rides commit 0's schemaString) and the
    * protocol upgrade listing the feature. DML that preserves rows
    * (delete, DV ops, compact) works as-is; [[merge]]/[[updateWhere]]
    * refuse to fabricate or overwrite identity values unless explicit
    * inserts are allowed. */
  def createWithIdentity(spark: SparkSession, df: DataFrame, tablePath: String,
      idCol: String, start: Long = 1L, step: Long = 1L,
      allowExplicitInsert: Boolean = false,
      partitionBy: Seq[String] = Nil): Unit = {
    require(step != 0L, "identity step must be nonzero")
    require(!df.columns.contains(idCol),
      s"the frame already has '$idCol' — identity values are generated, not provided")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(tablePath, "_delta_log")),
      s"Delta log already exists at $tablePath — use append")
    val (ddf0, parts) = withGenerated(df, partitionBy)
    val (ddf, _, release) = assignIdentity(spark, ddf0, idCol, start, step,
      prevHwm = scala.None, allow = allowExplicitInsert)
    // identity is a writer-6 capability: the feature protocol rides
    // IN commit 0 — a separate upgrade commit would leave a window
    // where the table carries delta.identity.* schema metadata
    // without the feature gate, letting a non-identity-aware writer
    // that wins commit 1 append without maintaining the water mark
    val pact = featureProtocolAction(scala.None, Seq("identityColumns"))
    try commit(spark, fs, ddf, tablePath, parts, version = 0L,
      protocol0 = pact.headOption)
    finally release()
  }

  /** APPEND WITH SCHEMA EVOLUTION (the mergeSchema contract): columns
    * of `df` the table lacks are ADDED to the table schema (nullable,
    * after the existing columns); columns the table has but `df`
    * lacks ride along as NULLs; existing columns must keep their
    * EXACT types — silent widening would corrupt downstream
    * consumers, so a type change is a loud error, never a coercion.
    * The commit re-declares the merged metaData, and readers resolve
    * old files' missing columns to NULL (by-name parquet resolution),
    * so NO existing data is rewritten. Later strict [[append]]s
    * validate against the EVOLVED schema. */
  def appendEvolve(spark: SparkSession, df: DataFrame, tablePath: String,
      partitionBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(tablePath, "_delta_log")),
      s"no Delta table at $tablePath — use create")
    val md = latestMetaNode(fs, tablePath).getOrElse(throw new IllegalStateException(
      s"the JSON log of $tablePath carries no metaData — cannot evolve " +
        "a checkpoint-truncated table"))
    val (df1, partitionBy1) = deriveGenerated(Some(md), df, partitionBy)
    val declaredParts = Option(md.get("partitionColumns"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
    require(declaredParts == partitionBy1,
      s"append partitioning $partitionBy1 does not match the table's $declaredParts")
    val declared = DataType.fromJson(md.get("schemaString").asText())
      .asInstanceOf[StructType]
    val byName = df1.schema.fields.map(f => f.name -> f).toMap
    identityField(declared).foreach { case (f, _, _, _, allow) =>
      require(allow && byName.contains(f.name),
        s"appendEvolve on an identity table: '${f.name}' is GENERATED ALWAYS " +
          "and null-filling it would corrupt the sequence — use addColumns " +
          "to evolve the schema, then append") }
    declared.fields.foreach { f =>
      byName.get(f.name).foreach { g =>
        require(g.dataType == f.dataType,
          s"column '${f.name}' type ${g.dataType.sql} does not match the " +
            s"table's ${f.dataType.sql} — appendEvolve adds columns, it " +
            "never changes types")
      }
    }
    val newFields0 = df1.schema.fields
      .filterNot(f => declared.fieldNames.contains(f.name))
    // on a COLUMN-MAPPED table, new columns take fresh ids and fresh
    // SYNTHETIC physical names: a reused human name could collide with
    // an old physical column left behind by renameColumn/dropColumn
    val config = configOf(md)
    val mapped = config.getOrElse("delta.columnMapping.mode", "none") != "none"
    val maxId = config.get("delta.columnMapping.maxColumnId").map(_.toLong).getOrElse(0L)
    val newFields =
      if (!mapped) newFields0
      else newFields0.zipWithIndex.map { case (f, i) =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", maxId + 1 + i)
          .putString("delta.columnMapping.physicalName",
            s"col-${java.util.UUID.randomUUID()}")
          .build())
      }
    val merged = StructType(declared.fields ++ newFields.map(_.copy(nullable = true)))
    val aligned = df1.select(merged.fields.map { f =>
      if (byName.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    val newConfig =
      if (!mapped || newFields.isEmpty) config
      else config + ("delta.columnMapping.maxColumnId" ->
        (maxId + newFields.length).toString)
    val metaAction =
      if (newFields.isEmpty) scala.None
      else Some(metaDataJson(md, merged, partitionBy1, newConfig))
    val v = DeltaScan.latestVersion(spark, tablePath) + 1
    commit(spark, fs, aligned, tablePath, partitionBy1, version = v,
      metaOverride = metaAction)
  }

  /** ADD COLUMNS as a METADATA-ONLY commit — the schema half of
    * [[appendEvolve]] without any data: the new columns are appended
    * (nullable, after the existing fields), existing files read NULL
    * for them by-name, nothing is rewritten. Column-mapped tables
    * assign fresh ids + synthetic physical names (same rule as
    * appendEvolve). Used standalone and by [[mergeEvolve]]. */
  def addColumns(spark: SparkSession, tablePath: String,
      cols: Seq[StructField],
      defaults: Map[String, Any] = Map.empty): Unit = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    require(cols.map(_.name).distinct.size == cols.size,
      "duplicate column names in addColumns")
    defaults.keys.foreach(k => require(cols.exists(_.name == k),
      s"default for '$k' names no added column"))
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(tablePath))
    val md = latestMetaNode(fs, tablePath).getOrElse(throw new IllegalStateException(
      s"the JSON log of $tablePath carries no metaData — cannot evolve " +
        "a checkpoint-truncated table"))
    val declared = DataType.fromJson(md.get("schemaString").asText())
      .asInstanceOf[StructType]
    cols.foreach(f => require(!declared.fieldNames.contains(f.name),
      s"column '${f.name}' already exists"))
    // column DEFAULTS (protocol §Column Default Values, writer feature
    // allowColumnDefaults): CURRENT_DEFAULT is WRITE-time only — rows
    // written before the column existed read NULL (the protocol is
    // explicit that defaults never rewrite history; contrast Iceberg's
    // initial-default)
    val withDefaults = cols.map(f => defaults.get(f.name) match {
      case Some(v) => f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          .putString("CURRENT_DEFAULT",
            ColumnDefaults.sqlLiteral(f.dataType, v)).build())
      case scala.None => f
    })
    val config = configOf(md)
    val mapped = config.getOrElse("delta.columnMapping.mode", "none") != "none"
    val maxId = config.get("delta.columnMapping.maxColumnId").map(_.toLong).getOrElse(0L)
    val newFields =
      if (!mapped) withDefaults
      else withDefaults.zipWithIndex.map { case (f, i) =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", maxId + 1 + i)
          .putString("delta.columnMapping.physicalName",
            s"col-${java.util.UUID.randomUUID()}")
          .build())
      }
    val merged = StructType(declared.fields ++ newFields.map(_.copy(nullable = true)))
    val newConfig =
      if (!mapped) config
      else config + ("delta.columnMapping.maxColumnId" -> (maxId + cols.length).toString)
    val partCols = Option(md.get("partitionColumns"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
    val pact =
      if (defaults.isEmpty) Seq.empty
      else featureProtocolAction(latestProtoNodeAny(spark, fs, tablePath),
        Seq("allowColumnDefaults"))
    val v = DeltaScan.latestVersion(spark, tablePath) + 1
    writeCommitFile(fs, root, v,
      pact ++ Seq(metaDataJson(md, merged, partCols, newConfig)),
      operation = Some("ADD COLUMNS"))
  }

  /** fill declared columns the caller omitted that carry a
    * CURRENT_DEFAULT, in declared order (extras ride at the end for
    * appendEvolve); columns missing WITHOUT a default drop through to
    * the strict schema check's loud error */
  private def fillColumnDefaults(declared: Option[StructType],
      df: DataFrame): DataFrame = declared match {
    case Some(sch)
        if sch.fields.exists(f => !df.columns.contains(f.name) &&
          f.metadata.contains("CURRENT_DEFAULT")) =>
      import org.apache.spark.sql.functions.{col, expr}
      val extra = df.columns.filterNot(sch.fieldNames.contains)
      df.select((sch.fields.collect {
        case f if df.columns.contains(f.name) => col(f.name)
        case f if f.metadata.contains("CURRENT_DEFAULT") =>
          expr(f.metadata.getString("CURRENT_DEFAULT"))
            .cast(f.dataType).as(f.name)
      } ++ extra.map(col)).toSeq: _*)
    case _ => df
  }

  /** MERGE WITH AUTOMATIC SCHEMA EVOLUTION — the `mergeSchema` twin of
    * [[merge]]: source columns the table lacks are ADDED first
    * ([[addColumns]], metadata-only — unmatched rows in untouched files
    * read NULL for them), then the merge runs with EVOLUTION SEMANTICS
    * for table columns the source lacks: matched rows KEEP their
    * current value (filled from the target before the upsert), inserted
    * rows take NULL, and generated partition columns are re-derived as
    * always. Two commits land (the optional schema change, then the
    * merge) — same observable sequence as Delta proper, where a writer
    * racing between them sees an ordinarily-evolved table.
    *
    * Requires unique key tuples on BOTH sides when the source is
    * narrower than the table (the matched-row fill joins the current
    * table; a duplicate target key would fan the source row out and the
    * merge's own duplicate-source guard refuses loudly). Returns
    * (rowsUpdated, rowsInserted). */
  def mergeEvolve(spark: SparkSession, tablePath: String, source: DataFrame,
      keys: Seq[String], txn: Option[(String, Long)] = None): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "merge needs at least one key column")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = latestMetaNode(fs, tablePath).getOrElse(throw new IllegalStateException(
      s"the JSON log of $tablePath carries no metaData — cannot evolve " +
        "a checkpoint-truncated table"))
    val declared = DataType.fromJson(md.get("schemaString").asText())
      .asInstanceOf[StructType]
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
    // table columns the source lacks: fill matched rows from the
    // current table (left join — unmatched source rows get NULL), but
    // never generated columns (merge re-derives those from the data)
    val genNames = DeltaTransforms.generatedFields(schemaNow).map(_._1.name).toSet
    val targetOnly = schemaNow.fieldNames
      .filterNot(source.columns.contains).filterNot(genNames.contains).toSeq
    val filled =
      if (targetOnly.isEmpty) source
      else source.join(
        DeltaScan.read(spark, tablePath).select((keys ++ targetOnly).map(col): _*),
        keys, "left")
    val ordered = filled.select(
      schemaNow.fieldNames.filter(filled.columns.contains).map(col).toSeq: _*)
    merge(spark, tablePath, ordered, keys, txn)
  }

  /** SHALLOW CLONE: a new Delta table whose commit 0 re-declares the
    * source's metaData (new table id) and ADDs every live source file
    * BY ABSOLUTE PATH — zero data copied, the spec's absolute-path add
    * form. The clone reads, time-travels (its own history), appends
    * (new files land locally), and takes DV deletes; copy-on-write
    * rewrites refuse absolute adds loudly, and vacuum NEVER deletes a
    * path outside the table root — dropping a clone can never damage
    * the source. Source DV tables refuse (their descriptors are
    * source-root-relative). The experimentation twin of Iceberg's
    * [[IcebergWrite.appendToBranch]] WAP branches. */
  def cloneShallow(spark: SparkSession, sourcePath: String, targetPath: String): Unit = {
    val fs = new Path(sourcePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireNoRowTracking(spark, fs, sourcePath, "cloneShallow")
    require(!fs.exists(new Path(targetPath, "_delta_log")),
      s"Delta log already exists at $targetPath")
    val sourceRoot = fs.makeQualified(new Path(sourcePath))
    val targetRoot = fs.makeQualified(new Path(targetPath))
    val (latestAdds, proto) = replayLatestAdds(fs, sourceRoot.toString)
    require(latestAdds.nonEmpty, s"no live files to clone at $sourcePath")
    val md = latestMetaNode(fs, sourceRoot.toString).getOrElse(
      throw new IllegalStateException(
        s"the JSON log of $sourcePath carries no metaData — cannot clone"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val mdClone = md.deepCopy().asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    mdClone.put("id", java.util.UUID.randomUUID().toString)
    mdClone.put("createdTime", System.currentTimeMillis())
    val protoLine = proto.map(p => s"""{"protocol":${p.toString}}""").getOrElse(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    val addLines = latestAdds.toSeq.sortBy(_._1).map { case (rel, add) =>
      require(add.get("deletionVector") == null || add.get("deletionVector").isNull,
        s"source file $rel carries a deletion vector — DV descriptors are " +
          "source-root-relative; compact the source first, then clone")
      val a = add.deepCopy().asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      // absolute paths go through the SAME percent-encoding as relative
      // adds: the reader percent-decodes every action path, so a raw
      // source path containing a literal '%' (hive-escaped partition
      // dirs) would decode to a DIFFERENT on-disk name and 404
      a.put("path", encodePath(fs.makeQualified(new Path(sourceRoot, rel)).toString))
      a.put("dataChange", true)
      s"""{"add":${a.toString}}"""
    }
    writeCommitFile(fs, targetRoot, 0,
      protoLine +: s"""{"metaData":${mdClone.toString}}""" +: addLines,
      operation = Some("CLONE"))
  }

  /** ADD a CHECK CONSTRAINT (the protocol's `delta.constraints.<name>`
    * configuration + minWriter 3): from this commit on, EVERY logical
    * write — append, evolve, txn/streaming sink, merge, update — must
    * satisfy `sqlExpr` on every row or fails loudly BEFORE any file is
    * staged. Enforcement is one `limit(1)` early-exit pass per
    * constraint per write: narrow, codegen'd, scale-free. Existing
    * rows are validated once at ADD time (same shape). */
  def addCheckConstraint(spark: SparkSession, tablePath: String,
      name: String, sqlExpr: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name '$name' is not an identifier")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(tablePath))
    val md = latestMetaNodeAny(spark, fs, tablePath).getOrElse(
      throw new IllegalStateException(
        s"no metaData at $tablePath — cannot add a constraint"))
    val config = configOf(md)
    val key = s"delta.constraints.$name"
    require(!config.contains(key), s"constraint '$name' already exists")
    // existing rows must already satisfy it — loud otherwise
    val bad = DeltaScan.read(spark, tablePath)
      .filter(org.apache.spark.sql.functions.not(
        org.apache.spark.sql.functions.expr(sqlExpr)))
      .limit(1).count()
    require(bad == 0L,
      s"existing rows violate CHECK ($sqlExpr) — constraint not added")
    val declared = DataType.fromJson(md.get("schemaString").asText())
      .asInstanceOf[StructType]
    val partCols = Option(md.get("partitionColumns"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
    val v = DeltaScan.latestVersion(spark, tablePath) + 1
    // CHECK constraints are a writer-3 protocol feature
    writeCommitFile(fs, root, v, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""",
      metaDataJson(md, declared, partCols, config + (key -> sqlExpr))),
      operation = Some("ADD CONSTRAINT"))
  }

  // ---- change data feed (protocol §Add CDC File) ------------------------

  private[sources] val CdfKey = "delta.enableChangeDataFeed"

  private def cdfEnabled(spark: SparkSession, fs: FileSystem,
      tablePath: String): Boolean =
    latestMetaNodeAny(spark, fs, tablePath).exists(md =>
      configOf(md).get(CdfKey).contains("true"))

  /** ALTER TABLE SET TBLPROPERTIES: re-declare the metaData with the
    * merged configuration (schema/partitioning verbatim). Protocol-
    * gated properties have dedicated entry points with their feature
    * upgrades ([[enableChangeDataFeed]], [[enableRowTracking]], …);
    * this is for plain behavior knobs like `delta.checkpointInterval`. */
  def setProperties(spark: SparkSession, tablePath: String,
      props: Map[String, String]): Unit = {
    require(props.nonEmpty, "no properties to set")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(tablePath))
    val md = latestMetaNodeAny(spark, fs, tablePath).getOrElse(
      throw new IllegalStateException(s"no metaData at $tablePath"))
    val declared = DataType.fromJson(md.get("schemaString").asText())
      .asInstanceOf[StructType]
    val partCols = Option(md.get("partitionColumns"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
    val v = DeltaScan.latestVersion(spark, tablePath) + 1
    writeCommitFile(fs, root, v,
      Seq(metaDataJson(md, declared, partCols, configOf(md) ++ props)),
      operation = Some("SET TBLPROPERTIES"))
  }

  /** ENABLE THE CHANGE DATA FEED (table property
    * `delta.enableChangeDataFeed`, writer feature `changeDataFeed`):
    * from this commit on, every row-changing DML (update/delete/merge)
    * writes its row-level changes as parquet CHANGE FILES under
    * `_change_data/` committed via `cdc` actions in the SAME commit —
    * [[DeltaScan.readCdf]] serves them back per version. Insert-only
    * commits (append/create) may omit cdc per the protocol; readers
    * derive their inserts from the add actions. DV/row-tracking DML
    * and restore refuse on CDF tables (they cannot express their
    * changes as a complete feed here); column-mapped tables refuse
    * enablement (change files would need physical-name plumbing). */
  def enableChangeDataFeed(spark: SparkSession, tablePath: String): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(tablePath))
    val md = latestMetaNodeAny(spark, fs, tablePath).getOrElse(
      throw new IllegalStateException(s"no metaData at $tablePath"))
    val config = configOf(md)
    require(!config.get(CdfKey).contains("true"),
      s"change data feed is already enabled at $tablePath")
    require(config.getOrElse("delta.columnMapping.mode", "none") == "none",
      "change data feed on a column-mapped table is not supported by this writer")
    requireNoDeletionVectors(spark, tablePath)
    val declared = DataType.fromJson(md.get("schemaString").asText())
      .asInstanceOf[StructType]
    val partCols = Option(md.get("partitionColumns"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
    val pact = featureProtocolAction(latestProtoNodeAny(spark, fs, tablePath),
      Seq("changeDataFeed"))
    val v = DeltaScan.latestVersion(spark, tablePath) + 1
    writeCommitFile(fs, root, v,
      pact ++ Seq(metaDataJson(md, declared, partCols, config + (CdfKey -> "true"))),
      operation = Some("SET TBLPROPERTIES"))
  }

  /** stage `changes` (the table schema + `_change_type`) as parquet
    * under `_change_data/` (partitioned like the data) and return the
    * commit's `cdc` action lines — `dataChange=false` per protocol */
  private def stageCdcFiles(spark: SparkSession, fs: FileSystem, root: Path,
      schema: StructType, partCols: Seq[String],
      changes: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val staged = TableCommit.stage(fs, root, destPrefix = "_change_data") { staging =>
      val ordered = changes.select(
        (schema.fieldNames.map(col) :+ col("_change_type")).toSeq: _*)
      val clustered = WriteLayout.clusterByPartitions(spark, ordered, partCols)
      val w = clustered.write.mode("append")
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(staging)
    }
    staged.map { f =>
      s"""{"cdc":{"path":${jstr(encodePath(f.rel))},"partitionValues":{${partitionValuesJson(f.rel)}},"size":${f.size},"dataChange":false}}"""
    }
  }

  /** ops that cannot express their row changes as a complete feed
    * refuse on CDF tables instead of silently starving consumers */
  private def refuseOnCdf(spark: SparkSession, fs: FileSystem,
      tablePath: String, op: String): Unit =
    require(!cdfEnabled(spark, fs, tablePath),
      s"$op on a change-data-feed table would leave the feed incomplete " +
        "(no cdc actions for its row changes) — disable CDF or use the " +
        "copy-on-write DML")

  /** drop a CHECK constraint (metadata-only) */
  def dropCheckConstraint(spark: SparkSession, tablePath: String,
      name: String): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(tablePath))
    val md = latestMetaNodeAny(spark, fs, tablePath).getOrElse(
      throw new IllegalStateException(s"no metaData at $tablePath"))
    val config = configOf(md)
    val key = s"delta.constraints.$name"
    require(config.contains(key), s"no constraint '$name' at $tablePath")
    val declared = DataType.fromJson(md.get("schemaString").asText())
      .asInstanceOf[StructType]
    val partCols = Option(md.get("partitionColumns"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
    val v = DeltaScan.latestVersion(spark, tablePath) + 1
    writeCommitFile(fs, root, v,
      Seq(metaDataJson(md, declared, partCols, config - key)),
      operation = Some("DROP CONSTRAINT"))
  }

  // ---- clustered tables (PROTOCOL §Clustered Table) --------------------

  /** Mark the table CLUSTERED by `cols` — the Delta twin of Iceberg's
    * sort orders ([[IcebergWrite.setSortOrder]]): advisory LAYOUT
    * metadata recorded once, honored by maintenance rewrites, readable
    * by every engine. Per the protocol, clustering columns live in a
    * `domainMetadata` action under the reserved `delta.clustering`
    * domain (configuration `{"clusteringColumns":[["col"],...]}`,
    * PHYSICAL names), gated by the `clustering` + `domainMetadata`
    * writer table features (writer version 7; readers are unaffected —
    * which is what makes this metadata-only commit safe on a live
    * table). [[compact]] honors it: rewritten files are range-clustered
    * and sorted by the columns, so parquet min/max prunes on them — the
    * ordering cost is paid at maintenance time, every read after gets
    * the clustering from the layout for free. `Nil` removes the domain
    * (a `removed:true` tombstone, per the protocol's domain-metadata
    * replay rule). Top-level columns only; partition columns refuse
    * (they are already the coarser layout dimension). */
  def setClusteringColumns(spark: SparkSession, tablePath: String,
      cols: Seq[String]): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(tablePath))
    val md = latestMetaNodeAny(spark, fs, tablePath).getOrElse(
      throw new IllegalStateException(
        s"no metaData at $tablePath — cannot set clustering columns"))
    val declared = DataType.fromJson(md.get("schemaString").asText())
      .asInstanceOf[StructType]
    val partCols = Option(md.get("partitionColumns"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
    require(cols.distinct.size == cols.size,
      s"duplicate clustering columns in ${cols.mkString(", ")}")
    cols.foreach { c =>
      require(declared.fieldNames.contains(c),
        s"clustering column '$c' is not a column of the table " +
          s"(columns: ${declared.fieldNames.mkString(", ")})")
      require(!partCols.contains(c),
        s"clustering column '$c' is a partition column — it already " +
          "drives the coarser directory layout")
    }
    val mapped = configOf(md)
      .getOrElse("delta.columnMapping.mode", "none") != "none"
    val action =
      if (cols.isEmpty) {
        require(DeltaScan.domainMetadata(spark, tablePath)
            .contains(ClusteringDomain),
          s"no clustering columns set at $tablePath — nothing to remove")
        s"""{"domainMetadata":{"domain":${jstr(ClusteringDomain)},""" +
          s""""configuration":"","removed":true}}"""
      } else {
        // the protocol stores PHYSICAL name paths (nested as arrays of
        // parts; this writer scopes to top-level columns)
        val phys = cols.map { c =>
          val f = declared(c)
          if (mapped) DeltaScan.physicalName(f) else f.name
        }
        val cfg = phys.map(p => s"[${jstr(p)}]").mkString(
          """{"clusteringColumns":[""", ",", "]}")
        s"""{"domainMetadata":{"domain":${jstr(ClusteringDomain)},""" +
          s""""configuration":${jstr(cfg)},"removed":false}}"""
      }
    val proto = latestProtoNodeAny(spark, fs, tablePath)
    val v = DeltaScan.latestVersion(spark, tablePath) + 1
    writeCommitFile(fs, root, v, clusteringProtocolAction(proto) ++ Seq(action),
      operation = Some(if (cols.isEmpty) "DROP CLUSTER BY" else "CLUSTER BY"))
  }

  private[sources] val ClusteringDomain = "delta.clustering"

  /** commit ONE domain-metadata action at an EXPLICIT version (with
    * the domainMetadata protocol gate) — the transactional
    * table-scoped key-value channel clustering uses, reused by the
    * graft ANALYZE stats ([[DeltaNdv]]). Pinning the version makes
    * read-compute-commit flows exact: a concurrent commit taking the
    * slot fails the CAS loudly instead of stamping stale results as
    * current. */
  private[sources] def commitDomainMetadataAt(spark: SparkSession,
      tablePath: String, domain: String, configuration: String,
      operation: String, version: Long): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(tablePath))
    val action =
      s"""{"domainMetadata":{"domain":${jstr(domain)},""" +
        s""""configuration":${jstr(configuration)},"removed":false}}"""
    val proto = latestProtoNodeAny(spark, fs, tablePath)
    writeCommitFile(fs, root, version,
      featureProtocolAction(proto, Seq("domainMetadata")) ++ Seq(action),
      operation = Some(operation))
  }

  /** legacy minWriterVersion → the writer features it implies — when a
    * table upgrades to feature-listing writer version 7, the implied
    * features must be listed explicitly or other writers drop the
    * capabilities (protocol upgrade rule) */
  private def legacyWriterFeatures(minWriter: Int): Seq[String] = {
    val ladder = Seq(
      2 -> Seq("appendOnly", "invariants"),
      3 -> Seq("checkConstraints"),
      4 -> Seq("changeDataFeed", "generatedColumns"),
      5 -> Seq("columnMapping"),
      6 -> Seq("identityColumns"))
    ladder.filter(_._1 <= minWriter).flatMap(_._2)
  }

  /** protocol action upgrading to writer features `domainMetadata` +
    * `clustering` (empty when already present); reader version and
    * reader features carry verbatim — both features are writer-only */
  private def clusteringProtocolAction(
      proto: Option[com.fasterxml.jackson.databind.node.ObjectNode]): Seq[String] =
    featureProtocolAction(proto, Seq("clustering", "domainMetadata"))

  /** latest protocol action — JSON tail newest-first, else the
    * checkpoint top files (mirrors [[latestMetaNodeAny]]) */
  private def latestProtoNodeAny(spark: SparkSession, fs: FileSystem,
      tablePath: String): Option[com.fasterxml.jackson.databind.node.ObjectNode] = {
    val logDir = new Path(fs.makeQualified(new Path(tablePath)), "_delta_log")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val versions = fs.listStatus(logDir).toSeq.map(_.getPath.getName)
      .collect { case n if n.matches("\\d{20}\\.json") => n.stripSuffix(".json").toLong }
      .sorted.reverse
    val fromTail = versions.iterator.flatMap { v =>
      val in = fs.open(new Path(logDir, f"$v%020d.json"))
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      lines.map(mapper.readTree).filter(_.has("protocol"))
        .map(_.get("protocol").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
        .lastOption
    }.nextOption()
    fromTail.orElse {
      DeltaScan.lastCheckpoint(spark, fs, logDir).flatMap { case (v, parts) =>
        val (cpFiles, isJson, _) = DeltaScan.checkpointTopFiles(fs, logDir, v, parts)
        val df = if (isJson) spark.read.json(cpFiles: _*)
                 else spark.read.parquet(cpFiles: _*)
        if (!df.columns.contains("protocol")) scala.None
        else df.filter(org.apache.spark.sql.functions.col("protocol.minReaderVersion").isNotNull)
          .select("protocol").toJSON.collect() // [lint:bounded] one protocol row
          .headOption
          .map(j => mapper.readTree(j).get("protocol")
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      }
    }
  }

  /** every `delta.constraints.*` in `config` must hold on every row of
    * `df` (LOGICAL column names) — loud with the first violating
    * constraint; one narrow limit-1 job per constraint */
  private def enforceConstraints(df: DataFrame, config: Map[String, String]): Unit =
    config.toSeq.sortBy(_._1).foreach { case (k, sqlExpr) =>
      if (k.startsWith("delta.constraints.")) {
        val bad = df.filter(org.apache.spark.sql.functions.not(
          org.apache.spark.sql.functions.expr(sqlExpr))).limit(1).count()
        require(bad == 0L,
          s"write violates CHECK constraint ${k.stripPrefix("delta.constraints.")} " +
            s"($sqlExpr) — nothing committed")
      }
    }

  /** declared non-nullable columns must hold no NULL — checked only
    * for columns the INCOMING frame declares nullable (when its schema
    * already proves non-nullability, no job runs at all); one combined
    * limit-1 pass otherwise */
  private def enforceRequired(df: DataFrame, declared: StructType): Unit = {
    import org.apache.spark.sql.functions.col
    val dfNullable = df.schema.fields.filter(_.nullable).map(_.name).toSet
    val risky = declared.fields
      .filter(f => !f.nullable && dfNullable.contains(f.name)).map(_.name)
    if (risky.nonEmpty) {
      val anyNull = risky.map(col(_).isNull).reduce(_ || _)
      require(df.filter(anyNull).limit(1).count() == 0L,
        s"write carries NULL in non-nullable column(s) ${risky.mkString(", ")} — " +
          "nothing committed")
    }
  }

  /** absolute add path (leading '/' or a URI scheme — note qualified
    * local URIs are `file:/x`, a SINGLE slash) */
  private def isAbsolutePath(p: String): Boolean =
    p.startsWith("/") || p.matches("^[A-Za-z][A-Za-z0-9+.\\-]*:/.*")

  /** copy-on-write rewrites regroup victims by their path's partition
    * directory and stage new files under it — an ABSOLUTE add (a
    * shallow clone's pointer into the source table) would stage into
    * the SOURCE tree. Refuse loudly. */
  private def requireNoAbsoluteAdds(spark: SparkSession, fs: FileSystem,
      tablePath: String, op: String): Unit = {
    val abs = replayActions(spark, fs, tablePath)
      .collect { case (p, true, _, _) if isAbsolutePath(p) => p }
    require(abs.isEmpty,
      s"$op does not support tables with absolute-path adds (a shallow " +
        s"clone?): ${abs.take(3).mkString(", ")} — operate on the source " +
        "table, or append+compact locally first")
  }

  /** RENAME a top-level column WITHOUT rewriting any data — the Delta
    * `columnMapping` protocol path: logical names live only in the
    * metaData, each column's `physicalName` pins its on-disk parquet
    * name forever. First use upgrades the table (mode=name; existing
    * columns take their current name as the physical name, so every
    * already-written file stays readable), a pure metadata commit.
    * At 100 TB this is THE way to rename: zero data movement.
    * Partition columns refuse (their physical name is baked into the
    * hive path layout); top-level columns only. */
  def renameColumn(spark: SparkSession, tablePath: String,
      from: String, to: String): Unit =
    alterMapped(spark, tablePath, s"renameColumn($from -> $to)") { (schema, partCols) =>
      require(schema.fieldNames.contains(from), s"no column '$from' to rename")
      require(!schema.fieldNames.contains(to), s"column '$to' already exists")
      require(!partCols.contains(from),
        s"'$from' is a partition column — its physical name is the hive " +
          "path layout; repartition into a new table to rename it")
      requireNotGenerationSource(schema, from, "rename")
      StructType(schema.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    }

  /** unlike Iceberg (spec fields reference a source-id, names are
    * free), a Delta generation EXPRESSION names its source column
    * textually — renaming or dropping the source would leave every
    * writer unable to evaluate the expression; refuse loudly */
  private def requireNotGenerationSource(schema: StructType, name: String,
      op: String): Unit =
    DeltaTransforms.generatedFields(schema).foreach { case (f, sql) =>
      require(s"\\b${java.util.regex.Pattern.quote(name)}\\b".r
          .findFirstIn(sql).isEmpty,
        s"cannot $op '$name': generated column '${f.name}' derives from it " +
          s"(`$sql`) — rewrite into a table without that generated column first")
    }

  /** DROP a top-level column without rewriting any data (the dropped
    * physical column stays in old files, invisible behind the mapping;
    * a later appendEvolve re-adding the same LOGICAL name gets a fresh
    * physical name, so the orphaned bytes can never resurface). */
  def dropColumn(spark: SparkSession, tablePath: String, name: String): Unit =
    alterMapped(spark, tablePath, s"dropColumn($name)") { (schema, partCols) =>
      require(schema.fieldNames.contains(name), s"no column '$name' to drop")
      require(!partCols.contains(name),
        s"'$name' is a partition column — repartition into a new table to drop it")
      requireNotGenerationSource(schema, name, "drop")
      require(schema.length > 1, "cannot drop the last column")
      StructType(schema.fields.filterNot(_.name == name))
    }

  /** shared rename/drop core: enable columnMapping if needed (ids +
    * physical names + protocol upgrade preserving existing features),
    * apply the schema transform, commit ONE metadata-only version */
  private def alterMapped(spark: SparkSession, tablePath: String, op: String)(
      xform: (StructType, Seq[String]) => StructType): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(tablePath))
    val md = latestMetaNode(fs, tablePath).getOrElse(throw new IllegalStateException(
      s"the JSON log of $tablePath carries no metaData — cannot $op"))
    val declared = DataType.fromJson(md.get("schemaString").asText())
      .asInstanceOf[StructType]
    val partCols = Option(md.get("partitionColumns"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
    val config = configOf(md)
    val alreadyMapped = config.getOrElse("delta.columnMapping.mode", "none") != "none"
    val (mappedSchema, maxId) =
      if (alreadyMapped)
        (declared, config.get("delta.columnMapping.maxColumnId")
          .map(_.toLong).getOrElse(declared.length.toLong))
      else (StructType(declared.fields.zipWithIndex.map { case (f, i) =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", i + 1L)
          .putString("delta.columnMapping.physicalName", f.name)
          .build())
      }), declared.length.toLong)
    val next = xform(mappedSchema, partCols)
    // a CHECK constraint referencing a renamed/dropped column would make
    // EVERY later write fail analysis on the stale name (enforceConstraints
    // resolves the stored expr against the new schema) — refuse up front,
    // matching Delta's ALTER TABLE behavior; drop the constraint first
    val gone = declared.fieldNames.map(_.toLowerCase).toSet --
      next.fieldNames.map(_.toLowerCase).toSet
    if (gone.nonEmpty) config.toSeq.sortBy(_._1).foreach { case (k, ex) =>
      if (k.startsWith("delta.constraints.")) {
        val refs = spark.sessionState.sqlParser.parseExpression(ex).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.head.toLowerCase
        }.toSet
        val hit = refs.intersect(gone)
        require(hit.isEmpty,
          s"cannot $op: CHECK constraint " +
            s"'${k.stripPrefix("delta.constraints.")}' ($ex) references " +
            s"column(s) ${hit.mkString(", ")} — drop the constraint first")
      }
    }
    val newConfig = config ++ Map(
      "delta.columnMapping.mode" -> "name",
      "delta.columnMapping.maxColumnId" -> maxId.toString)

    // protocol: legacy (2,5) carries columnMapping implicitly; a table
    // already on reader 3 (table features) gets the feature ADDED with
    // everything it has preserved
    val protoLine: Option[String] =
      if (alreadyMapped) scala.None
      else {
        val (_, proto) = replayLatestAdds(fs, tablePath)
        val minReader = proto.flatMap(p => Option(p.get("minReaderVersion")))
          .map(_.asInt()).getOrElse(1)
        def feats(name: String): Seq[String] = proto.toSeq.flatMap(p =>
          Option(p.get(name)).filter(_.isArray)
            .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty))
        if (minReader < 3)
          Some("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""")
        else {
          def arr(xs: Seq[String]) = xs.map(jstr).mkString("[", ",", "]")
          val r = (feats("readerFeatures") :+ "columnMapping").distinct.sorted
          val w = (feats("writerFeatures") :+ "columnMapping").distinct.sorted
          Some(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
            s""""readerFeatures":${arr(r)},"writerFeatures":${arr(w)}}}""")
        }
      }
    val v = DeltaScan.latestVersion(spark, tablePath) + 1
    writeCommitFile(fs, root, v,
      protoLine.toSeq :+ metaDataJson(md, next, partCols, newConfig),
      operation = Some("ALTER COLUMN MAPPING"))
  }

  private def configOf(md: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
    Option(md.get("configuration")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)

  /** a metaData action line carrying `schema`/`partCols`/`config`, id
    * and createdTime from the previous metaData */
  private def metaDataJson(prev: com.fasterxml.jackson.databind.JsonNode,
      schema: StructType, partCols: Seq[String],
      config: Map[String, String]): String = {
    val cfg = config.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString(",")
    s"""{"metaData":{"id":${jstr(Option(prev.get("id")).map(_.asText())
        .getOrElse(java.util.UUID.randomUUID().toString))},""" +
      s""""format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${jstr(schema.json)},""" +
      s""""partitionColumns":[${partCols.map(jstr).mkString(",")}],""" +
      s""""configuration":{$cfg},"createdTime":${Option(prev.get("createdTime"))
        .map(_.asLong()).getOrElse(System.currentTimeMillis())}}}"""
  }



  /** [[create]]/[[append]] carrying a `txn` action (the public
    * protocol's application transaction identifier): the commit records
    * `{appId, version}` in the log, and [[lastTxnVersion]] recovers the
    * highest committed version for that appId — the EXACTLY-ONCE
    * handshake a streaming sink needs (a micro-batch re-delivered after
    * a crash between commit and checkpoint advance is detected and
    * skipped instead of double-appended). */
  def createWithTxn(spark: SparkSession, df: DataFrame, tablePath: String,
      appId: String, txnVersion: Long, partitionBy: Seq[String] = Nil): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(tablePath, "_delta_log")),
      s"Delta log already exists at $tablePath — use appendWithTxn")
    val (ddf, parts) = withGenerated(df, partitionBy)
    commit(spark, fs, ddf, tablePath, parts, version = 0L,
      txn = Some((appId, txnVersion)))
  }

  /** see [[createWithTxn]] */
  def appendWithTxn(spark: SparkSession, df: DataFrame, tablePath: String,
      appId: String, txnVersion: Long, partitionBy: Seq[String] = Nil): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = latestMetaNodeAny(spark, fs, tablePath)
    val declared = md.map(m => DataType.fromJson(m.get("schemaString").asText())
      .asInstanceOf[StructType])
    val (ddf, parts) = deriveGenerated(md, fillColumnDefaults(declared, df), partitionBy)
    validateAgainstMeta(md, ddf, parts)
    val v = DeltaScan.latestVersion(spark, tablePath) + 1
    commit(spark, fs, ddf, tablePath, parts, version = v,
      txn = Some((appId, txnVersion)), metaNode = md)
  }

  /** Highest `txn` version committed for `appId`, from the JSON tail
    * plus (when the log was checkpoint-truncated) the latest
    * checkpoint parquet — [[checkpoint]] carries the newest txn per
    * appId forward exactly so this survives truncation. None if the
    * table does not exist or has no txn for the app. */
  def lastTxnVersion(spark: SparkSession, tablePath: String, appId: String): Option[Long] = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(fs.makeQualified(new Path(tablePath)), "_delta_log")
    if (!fs.exists(logDir)) return scala.None
    // the JSON tail may be empty after checkpoint truncation — list
    // what is actually there instead of asking for a latest version
    val jsonVersions = fs.listStatus(logDir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("\\d{20}\\.json") => n.stripSuffix(".json").toLong }
      .sorted
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    var best: Option[Long] = scala.None
    def consider(app: String, v: Long): Unit =
      if (app == appId && best.forall(_ < v)) best = Some(v)
    // checkpoint first (older state), then the JSON tail (newer wins on
    // equal versions anyway — we keep the max)
    val cpFile = new Path(logDir, "_last_checkpoint")
    val cpVersion: Long =
      if (!fs.exists(cpFile)) -1L
      else {
        val in = fs.open(cpFile)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        val node = mapper.readTree(txt)
        val v = node.get("version").asLong(-1L)
        // honor multi-part AND v2 UUID-named checkpoints (external
        // writers): same resolution DeltaScan.read uses — missing a
        // txn here would silently break the exactly-once handshake
        // after truncation. V2 keeps non-file actions (txn included)
        // in the TOP file, so sidecars never need reading here.
        val parts = Option(node.get("parts")).map(_.asInt())
        val resolved =
          if (v < 0) scala.None
          else scala.util.Try(
            DeltaScan.checkpointTopFiles(fs, logDir, v, parts)).toOption
        resolved match {
          case Some((cpFiles, isJson, _)) if cpFiles.forall(p => fs.exists(new Path(p))) =>
            val df = if (isJson) spark.read.json(cpFiles: _*)
                     else spark.read.parquet(cpFiles: _*)
            if (df.columns.contains("txn")) {
              df.select("txn.appId", "txn.version")
                .where(org.apache.spark.sql.functions.col("appId").isNotNull)
                .collect() // [lint:bounded] one row per checkpointed txn app id
                .foreach(r => consider(r.getString(0), r.getLong(1)))
            }
            v
          case _ => -1L
        }
      }
    jsonVersions.filter(_ > cpVersion).foreach { v =>
      val p = new Path(logDir, f"$v%020d.json")
      val in = fs.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      lines.foreach { l =>
        val node = mapper.readTree(l)
        val t = node.get("txn")
        if (t != null && t.get("appId") != null)
          consider(t.get("appId").asText(), t.get("version").asLong())
      }
    }
    best
  }

  /** compare (names, types) and partition columns against the LATEST
    * metaData (an [[appendEvolve]]d table validates against the
    * evolved schema, not commit 0's); skipped (documented) when the
    * JSON tail carries no metaData — e.g. appending to a
    * checkpoint-truncated table another writer created, where metaData
    * lives only in the checkpoint parquet */
  private def validateAgainstMeta(
      metaNode: Option[com.fasterxml.jackson.databind.JsonNode],
      df: DataFrame, partitionBy: Seq[String]): Unit = {
    metaNode.foreach { md =>
      val declaredParts = Option(md.get("partitionColumns"))
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
      require(declaredParts == partitionBy,
        s"append partitioning $partitionBy does not match the table's $declaredParts")
      val declared = DataType.fromJson(md.get("schemaString").asText())
        .asInstanceOf[StructType]
      val got = df.schema
      require(
        declared.fields.map(f => (f.name, f.dataType)).toSeq ==
          got.fields.map(f => (f.name, f.dataType)).toSeq,
        s"append schema ${got.simpleString} does not match the table's ${declared.simpleString}")
    }
  }

  /** Write a parquet CHECKPOINT of the latest snapshot plus
    * `_last_checkpoint` — the log-compaction step every long-lived
    * Delta table needs: without it, readers replay every JSON commit
    * since version 0 (O(commits) metadata work per query); with it,
    * replay is one parquet read + the JSON tail. [[DeltaScan]] (and any
    * spec reader) picks it up via `_last_checkpoint`.
    *
    * The snapshot is computed by the same latest-action-per-path replay
    * the reader uses, from the FULL JSON history — this minimal writer
    * never truncates its own log; checkpointing a log whose early
    * commits are already gone fails loudly rather than guessing.
    * Checkpoint rows carry the reader-required action fields (add with
    * partitionValues/size/deletionVector, metaData, protocol); like the
    * commit step, this is driver-side METADATA work proportional to the
    * live-file count, not data size. */
  def checkpoint(spark: SparkSession, tablePath: String): Unit =
    checkpointImpl(spark, tablePath, v2 = false)

  /** V2 CHECKPOINT: the protocol's UUID-named checkpoint layout — file
    * actions land in a parquet SIDECAR under `_delta_log/_sidecars/`,
    * the top file `<v>.checkpoint.<uuid>.parquet` carries only the
    * non-file actions (protocol, metaData, per-app txn markers) plus
    * the `checkpointMetadata` row and the sidecar pointer. Readers
    * need the `v2Checkpoint` table feature, so the first call upgrades
    * the protocol (one commit, existing features preserved) — after
    * that the table is only readable by v2-aware readers, which is the
    * point of the feature gate. Functionally identical to [[checkpoint]]
    * (log truncation, txn survival); the layout is what scales: sidecars
    * shard the file manifest so a 100M-file table's checkpoint is many
    * parallel-written (and parallel-read) parts instead of one row-blob. */
  def checkpointV2(spark: SparkSession, tablePath: String): Unit =
    checkpointImpl(spark, tablePath, v2 = true)

  /** INCREMENTAL: a new checkpoint builds from the PREVIOUS checkpoint
    * plus the JSON tail after it — O(tail), not O(history) — so a
    * long-lived table (a streaming sink committing every micro-batch)
    * checkpoints at constant cost and old JSON commits can be cleaned
    * up after each checkpoint without ever blocking the next one. The
    * tail must be gapless between the checkpoint and the head (loud
    * otherwise). */
  private def checkpointImpl(spark: SparkSession, tablePath: String, v2: Boolean): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(fs.makeQualified(new Path(tablePath)), "_delta_log")
    val version = DeltaScan.latestVersion(spark, tablePath)
    val prevCp = DeltaScan.lastCheckpoint(spark, fs, logDir).filter(_._1 <= version)
    val cpV = prevCp.map(_._1).getOrElse(-1L)
    val jsons = ((cpV + 1) to version).map(v => new Path(logDir, f"$v%020d.json"))
    jsons.foreach(p => require(fs.exists(p),
      s"cannot checkpoint $tablePath: commit $p is missing " +
        "(log truncated past the last checkpoint?)"))

    import org.apache.spark.sql.types._
    val dvType = StructType(Seq(
      StructField("storageType", StringType), StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType), StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType), // data-skipping survives checkpointing
      StructField("deletionVector", dvType),
      // row tracking: ids must survive log truncation or every row
      // would silently re-identify at the next checkpoint cleanup
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType)))
    val metaType = StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    val protoType = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      // feature-bearing protocols (deletionVectors) must survive
      // checkpoint truncation or readers lose the capability gate
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    val txnType = StructType(Seq(
      StructField("appId", StringType), StructField("version", LongType)))
    val domainType = StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType)))
    val actionSchema = StructType(Seq(
      StructField("add", addType),
      StructField("remove", StructType(Seq(
        StructField("path", StringType), StructField("dataChange", BooleanType)))),
      StructField("metaData", metaType),
      StructField("protocol", protoType),
      StructField("txn", txnType),
      // clustering columns etc. must survive log truncation
      StructField("domainMetadata", domainType)))

    import org.apache.spark.sql.functions._
    // previous checkpoint read with THIS (writer) schema — richer than
    // the reader's projection, so txn/size/writerFeatures survive;
    // v2 tops expand their sidecars
    val prevActs: Option[org.apache.spark.sql.DataFrame] = prevCp.map { case (v, parts) =>
      val (cpFiles, isJson, isV2Named) = DeltaScan.checkpointTopFiles(fs, logDir, v, parts)
      def rd(paths: Seq[String], sch: StructType) =
        if (isJson) spark.read.schema(sch).json(paths: _*)
        else spark.read.schema(sch).parquet(paths: _*)
      val top = rd(cpFiles, actionSchema)
      val full =
        if (!isV2Named) top
        else {
          val scProbe = StructType(Seq(StructField("sidecar",
            StructType(Seq(StructField("path", StringType))))))
          val scPaths = rd(cpFiles, scProbe)
            .select(col("sidecar.path").as("p")).filter(col("p").isNotNull)
            .collect().map(_.getString(0)).toSeq.sorted // [lint:bounded] one row per sidecar FILE
          if (scPaths.isEmpty) top
          else top.unionByName(spark.read.schema(actionSchema).parquet(scPaths.map { p =>
            if (p.contains("://") || p.startsWith("/")) p
            else new Path(logDir, s"_sidecars/$p").toString
          }: _*))
        }
      full.withColumn("__v", lit(v))
    }
    val tailActs: Option[org.apache.spark.sql.DataFrame] =
      if (jsons.isEmpty) scala.None
      else Some(spark.read.schema(actionSchema).json(jsons.map(_.toString): _*)
        .withColumn("__v", regexp_extract(input_file_name(), "(\\d+)\\.json", 1).cast("long")))
    val acts = (prevActs.toSeq ++ tailActs.toSeq).reduce(_ unionByName _)
    // latest action per path wins; survivors are adds
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(coalesce(col("add.path"), col("remove.path")))
      .orderBy(col("__v").desc)
    val liveAdds = acts
      .filter(col("add.path").isNotNull || col("remove.path").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("add.path").isNotNull)
      .select("add")
    val latestMeta = acts.filter(col("metaData.id").isNotNull)
      .orderBy(col("__v").desc).select("metaData").limit(1)
    val latestProto = acts.filter(col("protocol.minReaderVersion").isNotNull)
      .orderBy(col("__v").desc).select("protocol").limit(1)

    // v2 needs the v2Checkpoint table feature: upgrade once (existing
    // features preserved; legacy minReader 2 maps to columnMapping),
    // then re-enter so the upgrade commit itself is checkpointed
    if (v2) {
      val p = latestProto.collect().headOption.map(_.getStruct(0)) // [lint:bounded] one protocol row
      val readerFeats = p.flatMap(r => Option(r.getSeq[String](2))).getOrElse(Seq.empty)
      if (!readerFeats.contains("v2Checkpoint")) {
        val minReader = p.map(r => if (r.isNullAt(0)) 1 else r.getInt(0)).getOrElse(1)
        val writerFeats = p.flatMap(r => Option(r.getSeq[String](3))).getOrElse(Seq.empty)
        val legacy = if (minReader == 2) Seq("columnMapping") else Seq.empty[String]
        val newReader = (readerFeats ++ legacy :+ "v2Checkpoint").distinct.sorted
        val newWriter = (writerFeats ++ legacy :+ "v2Checkpoint").distinct.sorted
        def arr(xs: Seq[String]) = xs.map(jstr).mkString("[", ",", "]")
        writeCommitFile(fs, fs.makeQualified(new Path(tablePath)), version + 1,
          Seq(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
            s""""readerFeatures":${arr(newReader)},"writerFeatures":${arr(newWriter)}}}"""))
        return checkpointImpl(spark, tablePath, v2) // feature present now
      }
    }

    // newest txn PER APP rides into the checkpoint (protocol behavior:
    // exactly-once markers must survive log truncation)
    val wTxn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("txn.appId")).orderBy(col("__v").desc)
    val latestTxn = acts.filter(col("txn.appId").isNotNull)
      .withColumn("__rn", row_number().over(wTxn))
      .filter(col("__rn") === 1)
      .select("txn")

    // latest state PER DOMAIN rides into the checkpoint; removed
    // tombstones drop here (protocol: checkpoints carry current domain
    // metadata only — a dropped domain needs no tombstone once no JSON
    // commit re-creates it)
    val wDom = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domainMetadata.domain")).orderBy(col("__v").desc)
    val latestDomains = acts.filter(col("domainMetadata.domain").isNotNull)
      .withColumn("__rn", row_number().over(wDom))
      .filter(col("__rn") === 1 &&
        !coalesce(col("domainMetadata.removed"), lit(false)))
      .select("domainMetadata")

    val nulls = Map(
      "add" -> lit(null).cast(addType), "remove" -> lit(null).cast(
        StructType(Seq(StructField("path", StringType), StructField("dataChange", BooleanType)))),
      "metaData" -> lit(null).cast(metaType), "protocol" -> lit(null).cast(protoType),
      "txn" -> lit(null).cast(txnType),
      "domainMetadata" -> lit(null).cast(domainType))
    def widen(df: org.apache.spark.sql.DataFrame, keep: String) =
      df.select(actionSchema.fieldNames.map(f =>
        (if (f == keep) col(f) else nulls(f)).as(f)).toSeq: _*)
    def writeOne(df: org.apache.spark.sql.DataFrame, dest: Path, tag: String): Long = {
      val tmp = new Path(logDir, s".tmp-checkpoint-$tag")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException("checkpoint write produced no parquet"))
      require(fs.rename(part, dest) || fs.exists(dest),
        s"could not move checkpoint file into place at $dest")
      fs.delete(tmp, true)
      fs.getFileStatus(dest).getLen
    }

    if (!v2) {
      val checkpointDf =
        widen(latestProto, "protocol")
          .unionAll(widen(latestMeta, "metaData"))
          .unionAll(widen(latestTxn, "txn"))
          .unionAll(widen(latestDomains, "domainMetadata"))
          .unionAll(widen(liveAdds, "add"))
      val cpPath = new Path(logDir, f"$version%020d.checkpoint.parquet")
      writeOne(checkpointDf, cpPath, version.toString)
      val size = spark.read.parquet(cpPath.toString).count()
      AtomicFiles.publishUtf8(fs, new Path(logDir, "_last_checkpoint"),
        s"""{"version":$version,"size":$size}""", overwrite = true)
    } else {
      // ---- V2 layout: sidecar with the file actions ------------------
      val uuid = java.util.UUID.randomUUID().toString
      fs.mkdirs(new Path(logDir, "_sidecars"))
      val sidecarRel = s"$uuid.parquet"
      val sidecarPath = new Path(logDir, s"_sidecars/$sidecarRel")
      val sidecarLen = writeOne(widen(liveAdds, "add"), sidecarPath, s"sc-$uuid")
      val nAdds = spark.read.parquet(sidecarPath.toString).count()

      // ---- top file: non-file actions + checkpointMetadata + pointer -
      val sidecarType = StructType(Seq(
        StructField("path", StringType), StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType)))
      val cpMetaType = StructType(Seq(StructField("version", LongType)))
      def widenV2(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        df.withColumn("sidecar", lit(null).cast(sidecarType))
          .withColumn("checkpointMetadata", lit(null).cast(cpMetaType))
      val one = spark.range(1)
      val pointerRow = one.select(
        (actionSchema.fieldNames.map(f => nulls(f).as(f)) :+
          struct(lit(sidecarRel).as("path"), lit(sidecarLen).as("sizeInBytes"),
            lit(fs.getFileStatus(sidecarPath).getModificationTime).as("modificationTime"))
            .as("sidecar") :+
          lit(null).cast(cpMetaType).as("checkpointMetadata")).toSeq: _*)
      val cpMetaRow = one.select(
        (actionSchema.fieldNames.map(f => nulls(f).as(f)) :+
          lit(null).cast(sidecarType).as("sidecar") :+
          struct(lit(version).as("version")).as("checkpointMetadata")).toSeq: _*)
      val topDf = widenV2(widen(latestProto, "protocol"))
        .unionAll(widenV2(widen(latestMeta, "metaData")))
        .unionAll(widenV2(widen(latestTxn, "txn")))
        .unionAll(widenV2(widen(latestDomains, "domainMetadata")))
        .unionAll(pointerRow)
        .unionAll(cpMetaRow)
      val topPath = new Path(logDir, f"$version%020d.checkpoint.$uuid.parquet")
      writeOne(topDf, topPath, s"top-$uuid")
      val size = spark.read.parquet(topPath.toString).count() + nAdds
      AtomicFiles.publishUtf8(fs, new Path(logDir, "_last_checkpoint"),
        s"""{"version":$version,"size":$size}""", overwrite = true)
    }
  }


  /** [[append]] with optimistic-concurrency RETRY: a loser of the
    * conditional-commit race re-reads the log's latest version and
    * tries the next one, up to `maxRetries` times — the standard
    * multi-writer append loop (blind appends never conflict
    * semantically, only on the version number; anything beyond
    * `maxRetries` losses signals real contention and surfaces the
    * ConcurrentModificationException to the caller). The parquet data
    * files of a lost round are already in the table directory but
    * unreferenced until a commit names them — each round stages fresh
    * files ([[TableCommit.stage]]), and the lost ones are vacuum
    * fodder, never data corruption. */
  def appendWithRetry(spark: SparkSession, df: DataFrame, tablePath: String,
      partitionBy: Seq[String] = Nil,
      maxRetries: Int = TableCommit.MaxCommitRetries): Unit =
    TableCommit.retry(maxRetries)(append(spark, df, tablePath, partitionBy))

  /** test seam for the conditional-commit guard: commit at an explicit
    * log version — what a racing writer with a stale view of the log
    * does right before it loses the race */
  private[graft] def appendAt(spark: SparkSession, df: DataFrame,
      tablePath: String, version: Long): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    commit(spark, fs, df, tablePath, Nil, version)
  }

  private def commit(spark: SparkSession, fs: FileSystem, df: DataFrame,
      tablePath: String, partitionBy: Seq[String], version: Long,
      txn: Option[(String, Long)] = None,
      metaOverride: Option[String] = None,
      metaNode: Option[com.fasterxml.jackson.databind.JsonNode] = None,
      protocol0: Option[String] = None): Unit = {
    val root = fs.makeQualified(new Path(tablePath))
    // COLUMN-MAPPED tables store PHYSICAL column names in parquet (and
    // physical hive partition dirs); `df` arrives logical, validated
    // against the logical schema — project right before the write. The
    // governing metaData is the override when this commit re-declares
    // it (appendEvolve), else the table's latest.
    val (wdf, wparts) = {
      val mdNode =
        if (version == 0L) scala.None
        else metaOverride match {
          case Some(j) => Option(new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(j).get("metaData"))
          case None => metaNode.orElse(latestMetaNodeAny(spark, fs, tablePath))
        }
      // CHECK constraints + declared NOT NULL gate every logical write
      // BEFORE any file is staged (one limit-1 early-exit pass per
      // constraint; the null check is FREE when the incoming frame's
      // own schema already proves non-nullability)
      mdNode.foreach { md =>
        enforceConstraints(df, configOf(md))
        enforceRequired(df, DataType.fromJson(md.get("schemaString").asText())
          .asInstanceOf[StructType])
      }
      mdNode.filter(md =>
          configOf(md).getOrElse("delta.columnMapping.mode", "none") != "none") match {
        case scala.None => (df, partitionBy)
        case Some(md) =>
          import org.apache.spark.sql.functions.col
          val declared = DataType.fromJson(md.get("schemaString").asText())
            .asInstanceOf[StructType]
          val proj = declared.fields.map(f =>
            col(f.name).cast(DeltaScan.physicalType(f.dataType))
              .as(DeltaScan.physicalName(f))).toSeq
          (df.select(proj: _*),
            partitionBy.map(p => DeltaScan.physicalName(declared(p))))
      }
    }
    // Partitioned writes CLUSTER by the partition columns first: one
    // hash shuffle puts each partition tuple in exactly one task, so
    // files = touched partitions instead of tasks x partitions (the
    // small-file explosion measured at sf1 on the generated layout).
    val added = TableCommit.stage(fs, root, destPrefix = "") { staging =>
      val clustered = WriteLayout.clusterByPartitions(spark, wdf, wparts)
      val writer = clustered.write.mode("append")
      (if (wparts.nonEmpty) writer.partitionBy(wparts: _*) else writer)
        .parquet(staging)
    }
    // an input with no rows stages no file: the commit still lands
    // (schema, txn marker), adding no data

    val now = System.currentTimeMillis()
    val header =
      if (version == 0L) {
        val schemaJson = df.schema.json // already a JSON document
        val pcols = partitionBy.map(jstr).mkString(",")
        // generated-column tables record the timezone their generation
        // expressions were evaluated under (graft pins UTC in every
        // entry point): readers may derive source-column bounds from a
        // partition VALUE only when the write TZ is known — CAST(ts AS
        // DATE)/year(ts) are session-TZ-dependent on TimestampType, so
        // a foreign table without this property must not source-prune
        // those shapes ([[DeltaScan]] checks it)
        val cfg =
          if (DeltaTransforms.generatedFields(df.schema).nonEmpty)
            s"""${jstr(DeltaTransforms.WriteTimezoneKey)}:${jstr("UTC")}"""
          else ""
        Seq(
          protocol0.getOrElse(
            """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""),
          s"""{"metaData":{"id":${jstr(java.util.UUID.randomUUID().toString)},""" +
            s""""format":{"provider":"parquet","options":{}},""" +
            s""""schemaString":${jstr(schemaJson)},""" +
            s""""partitionColumns":[$pcols],"configuration":{$cfg},"createdTime":$now}}""")
      } else metaOverride.toSeq // an evolved-schema commit re-declares metaData
    val txnLines = txn.toSeq.map { case (app, v) =>
      s"""{"txn":{"appId":${jstr(app)},"version":$v,"lastUpdated":$now}}"""
    }
    writeCommitFile(fs, root, version,
      header ++ txnLines ++ stagedAddLines(added, dataChange = true),
      operation = Some(if (version == 0L) "CREATE TABLE AS SELECT" else "WRITE"))
  }

  /** full-history replay → per path: (latest action is add?, version,
    * remove deletionTimestamp). Driver-side metadata work over this
    * writer's own JSON log (never truncated — checkpoint() enforces). */
  private def replayActions(spark: SparkSession, fs: FileSystem,
      tablePath: String, upTo: Option[Long] = None): Seq[(String, Boolean, Long, Long)] =
    replayActionsWithRaw(spark, fs, tablePath, upTo)._1

  /** like [[replayActions]] but additionally returns the set of RAW
    * (undecoded) action paths ever logged — vacuum's last-resort
    * exclusion namespace: whatever an external writer's encoding
    * convention was, the raw bytes it logged are in here */
  private def replayActionsWithRaw(spark: SparkSession, fs: FileSystem,
      tablePath: String, upTo: Option[Long] = None): (Seq[(String, Boolean, Long, Long)], Set[String]) = {
    val logDir = new Path(fs.makeQualified(new Path(tablePath)), "_delta_log")
    val version = upTo.getOrElse(DeltaScan.latestVersion(spark, tablePath))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val latest = scala.collection.mutable.LinkedHashMap.empty[String, (Boolean, Long, Long)]
    val raw = Set.newBuilder[String]
    (0L to version).foreach { v =>
      val p = new Path(logDir, f"$v%020d.json")
      require(fs.exists(p),
        s"cannot replay $tablePath: commit $p is missing (log truncated?)")
      val in = fs.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      lines.map(mapper.readTree).foreach { node =>
        // spec-compliant external writers percent-encode action paths;
        // decode to ON-DISK names (mirroring DeltaScan.read) so
        // vacuum's tracked-set, compact's live-set, and existence
        // checks all compare in the same namespace — an encoded live
        // file must never look untracked (that deleted data)
        if (node.has("add")) {
          val rp = node.get("add").get("path").asText()
          raw += rp
          latest(decodePath(rp)) = (true, v, 0L)
        } else if (node.has("remove")) {
          val r = node.get("remove")
          val rp = r.get("path").asText()
          raw += rp
          val ts = Option(r.get("deletionTimestamp")).map(_.asLong()).getOrElse(0L)
          latest(decodePath(rp)) = (false, v, ts)
        }
      }
    }
    (latest.toSeq.map { case (p, (isAdd, v, ts)) => (p, isAdd, v, ts) }, raw.result())
  }

  /** RESTORE the table to `toVersion` as a NEW commit (the RESTORE
    * command): files live at `toVersion` but dead now are re-ADDED,
    * files live now but absent then are REMOVED — history is
    * preserved (the restore is itself a commit, so the in-between
    * versions stay time-travelable until [[vacuum]]), and the
    * re-added files must still exist on disk (loud if vacuum already
    * reclaimed them — a restore across a vacuum horizon is
    * unrecoverable in Delta proper too). Returns
    * (filesReAdded, filesRemoved). */
  def restore(spark: SparkSession, tablePath: String, toVersion: Long): (Int, Int) = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseOnCdf(spark, fs, tablePath, "restore")
    requireNoDeletionVectors(spark, tablePath)
    requireNoRowTracking(spark, fs, tablePath, "restore")
    val root = fs.makeQualified(new Path(tablePath))
    val cur = DeltaScan.latestVersion(spark, tablePath)
    require(toVersion >= 0 && toVersion <= cur,
      s"version $toVersion out of range 0..$cur for $tablePath")
    def liveAt(v: Long): Set[String] =
      replayActionsWithRaw(spark, fs, tablePath, Some(v))._1
        .collect { case (p, true, _, _) => p }.toSet
    val target = liveAt(toVersion)
    val now = liveAt(cur)
    val toAdd = (target -- now).toSeq.sorted
    val toRemove = (now -- target).toSeq.sorted
    if (toAdd.isEmpty && toRemove.isEmpty) return (0, 0)
    toAdd.foreach { rel =>
      require(fs.exists(new Path(root, rel)),
        s"cannot restore $tablePath to version $toVersion: data file $rel " +
          "was already vacuumed from disk")
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val nowMs = System.currentTimeMillis()
    // RESTORE also restores the SCHEMA (delta-spark semantics): when
    // the metaData in force at toVersion differs from the current one
    // (appendEvolve in between), the restore commit re-declares it
    val metaAt: Option[String] = {
      val logDir = new Path(root, "_delta_log")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      (toVersion to 0L by -1L).iterator.flatMap { v =>
        val p = new Path(logDir, f"$v%020d.json")
        if (!fs.exists(p)) Iterator.empty
        else {
          val in = fs.open(p)
          val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
            finally in.close()
          lines.map(mapper.readTree).filter(_.has("metaData"))
            .map(_.get("metaData")).lastOption.iterator
        }
      }.nextOption().map(_.toString)
    }
    val metaAction = (metaAt, latestMetaNode(fs, tablePath).map(_.toString)) match {
      case (Some(old), Some(curMeta)) if old != curMeta => Seq(s"""{"metaData":$old}""")
      case _ => Seq.empty
    }
    val actions = metaAction ++
      toAdd.map { rel =>
        val p = new Path(root, rel)
        val stats = ParquetStats.statsJson(conf, p)
          .map(s => s""","stats":${jstr(s)}""").getOrElse("")
        s"""{"add":{"path":${jstr(encodePath(rel))},"partitionValues":{${partitionValuesJson(rel)}},"size":${fs.getFileStatus(p).getLen},"modificationTime":$nowMs,"dataChange":true$stats}}"""
      } ++ toRemove.map { rel =>
        s"""{"remove":{"path":${jstr(encodePath(rel))},"deletionTimestamp":$nowMs,"dataChange":true}}"""
      }
    writeCommitFile(fs, root, cur + 1, actions, operation = Some("RESTORE"))
    (toAdd.size, toRemove.size)
  }

  /** COMPACT small files: live files under `smallFileBytes` are
    * grouped by PARTITION directory, each group's rows rewritten into
    * `targetFiles` new parquet files inside the same partition, and
    * the whole swap lands in ONE conditional commit of `remove`+`add`
    * actions with `dataChange=false` — readers see the same rows
    * before and after, `partitionValues` stay truthful (hive partition
    * columns live in the path, not the files, so per-partition
    * rewrites preserve them by construction), and a racing writer to
    * the same version fails loudly (one side retries) so the swap
    * can't lose an append. The many-small-files state this repairs is
    * exactly what incremental ingestion produces (one file per
    * micro-batch and partition). Time travel to PRE-compaction
    * versions keeps working: old files stay on disk until [[vacuum]].
    */
  def compact(spark: SparkSession, tablePath: String,
      smallFileBytes: Long = 32L << 20, targetFiles: Int = 1): Unit = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // (mapped tables compact fine: the raw-parquet rewrite is
    // column-name agnostic — physical names ride through verbatim)
    // a raw-parquet rewrite of a DV-carrying file would resurrect its
    // deleted rows (the re-add drops the descriptor) — refuse loudly
    requireNoDeletionVectors(spark, tablePath)
    requireNoAbsoluteAdds(spark, fs, tablePath, "compact")
    val root = fs.makeQualified(new Path(tablePath))
    val readV = DeltaScan.latestVersion(spark, tablePath)
    val live = replayActions(spark, fs, tablePath, Some(readV))
      .collect { case (p, true, _, _) => p }
    val small = live.filter { rel =>
      fs.getFileStatus(new Path(root, rel)).getLen < smallFileBytes
    }
    // a group = one partition directory ("" for unpartitioned)
    val groups = small
      .groupBy(rel => rel.split('/').dropRight(1).mkString("/"))
      .filter(_._2.size >= 2) // singletons: nothing to gain
    if (groups.isEmpty) return

    // HONOR the table's clustering columns (setClusteringColumns):
    // range-cluster + sort each rewritten group so parquet min/max
    // prunes on the clustered dims after the rewrite. Physical names —
    // the raw-parquet read returns them for mapped tables too. Columns
    // missing from the files (post-drop metadata) fall back to the
    // plain repartition rather than failing maintenance.
    val cluster = DeltaScan.clusteringColumns(spark, tablePath)
    // ROW-TRACKED tables: a compaction MOVES rows, so the rewrite
    // MATERIALIZES each row's id/commit-version into the hidden
    // materialized columns (coalesced over any value an earlier
    // compaction already materialized; fresh rows compute
    // baseRowId + file position from the parquet source's own
    // `_metadata.row_index`). The new files still get fresh
    // baseRowIds from the commit stamp, as the protocol requires —
    // the materialized values win on read.
    val rtConf = latestMetaNodeAny(spark, fs, tablePath).map(configOf)
      .getOrElse(Map.empty)
    val rtOn = rowTrackingEnabledConf(rtConf)
    val rtState: Map[String, (Long, Long)] =
      if (!rtOn) Map.empty else rowTrackingFileState(fs, root.toString)
    def materializeIds(src: DataFrame): DataFrame = {
      import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
      val matId = rtConf(MatRowIdKey)
      val matCv = rtConf(MatRowCommitKey)
      import spark.implicits._
      val baseDf = broadcast(rtState.toSeq
        .map { case (rel, (b, cv)) =>
          (DeltaScan.normalizePath(new Path(root, rel).toUri.toString), b, cv)
        }.toDF("__file", "__base", "__dcv"))
      src
        .withColumn("__file",
          DeltaScan.normalizePathCol(col("_metadata.file_path")))
        .withColumn("__idx", col("_metadata.row_index"))
        .join(baseDf, Seq("__file"), "left")
        .withColumn(matId, coalesce(col(matId), col("__base") + col("__idx")))
        .withColumn(matCv, coalesce(col(matCv), col("__dcv")))
        .drop("__file", "__idx", "__base", "__dcv")
    }
    val added = groups.toSeq.sortBy(_._1).flatMap { case (partDir, rels) =>
      TableCommit.stage(fs, root, destPrefix = partDir) { staging =>
        val paths = rels.map(r => new Path(root, r).toString)
        val src0 = spark.read.parquet(paths: _*)
        val src =
          if (!rtOn) src0
          else {
            // explicit schema: data columns + the materialized columns
            // (files that predate materialization read them as NULL —
            // default parquet schema inference would drop them when the
            // first file lacks the columns)
            val matCols = Seq(rtConf(MatRowIdKey), rtConf(MatRowCommitKey))
            val withMat = StructType(
              src0.schema.fields.filterNot(f => matCols.contains(f.name)) ++
                matCols.map(StructField(_, LongType, nullable = true)))
            materializeIds(spark.read.schema(withMat).parquet(paths: _*))
          }
        val shaped =
          if (cluster.nonEmpty && cluster.forall(src.columns.contains)) {
            import org.apache.spark.sql.functions.col
            src.repartitionByRange(targetFiles, cluster.map(col): _*)
              .sortWithinPartitions(cluster.map(col): _*)
          } else src.repartition(targetFiles)
        shaped.write.mode("append").parquet(staging)
      }
    }
    require(added.nonEmpty, "compaction rewrite produced no files")

    val now = System.currentTimeMillis()
    val actions =
      stagedAddLines(added, dataChange = false) ++
        groups.values.flatten.toSeq.sorted.map { rel =>
          s"""{"remove":{"path":${jstr(encodePath(rel))},"deletionTimestamp":$now,"dataChange":false}}"""
        }
    // reads only the named small files — concurrent appends commute
    commitWithRetry(spark, fs, root, actions, Some("OPTIMIZE"),
      CommitScope("OPTIMIZE", readV, groups.values.flatten.toSet,
        readsWholeTable = false, pred = scala.None))
  }

  // ---- row-level DELETE / MERGE (copy-on-write) -----------------------

  /** LATEST metaData action in the JSON log (newest commit wins —
    * [[appendEvolve]] rewrites it, so commit 0 is only the initial
    * value), scanning commits newest-first and stopping at the first
    * hit. None when the JSON tail carries no metaData (fully
    * checkpoint-truncated log — the checkpoint parquet has it then). */
  private def latestMetaNode(fs: FileSystem,
      tablePath: String): Option[com.fasterxml.jackson.databind.JsonNode] = {
    val logDir = new Path(tablePath, "_delta_log")
    if (!fs.exists(logDir)) return scala.None
    val versions = fs.listStatus(logDir).toSeq.map(_.getPath.getName)
      .collect { case n if n.matches("\\d{20}\\.json") => n.stripSuffix(".json").toLong }
      .sorted.reverse
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    versions.iterator.flatMap { v =>
      val in = fs.open(new Path(logDir, f"$v%020d.json"))
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
        finally in.close()
      lines.map(mapper.readTree).filter(_.has("metaData")).map(_.get("metaData"))
        .lastOption
    }.nextOption()
  }

  /** [[latestMetaNode]] with a CHECKPOINT fallback: when the JSON tail
    * has been cleaned past the last metaData-carrying commit (a
    * long-lived streaming sink after [[checkpoint]]-based cleanup), the
    * metaData lives in the checkpoint — read it there, one bounded job.
    * Without this, appends to a checkpoint-truncated COLUMN-MAPPED
    * table would miss the mapping and write logical names into files
    * whose readers expect physical names. */
  private def latestMetaNodeAny(spark: SparkSession, fs: FileSystem,
      tablePath: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    latestMetaNode(fs, tablePath).orElse {
      val logDir = new Path(fs.makeQualified(new Path(tablePath)), "_delta_log")
      DeltaScan.lastCheckpoint(spark, fs, logDir).flatMap { case (v, parts) =>
        val (cpFiles, isJson, _) = DeltaScan.checkpointTopFiles(fs, logDir, v, parts)
        val df = if (isJson) spark.read.json(cpFiles: _*)
                 else spark.read.parquet(cpFiles: _*)
        if (!df.columns.contains("metaData")) scala.None
        else df.filter(org.apache.spark.sql.functions.col("metaData.id").isNotNull)
          .select("metaData").toJSON.collect() // [lint:bounded] one metaData row
          .headOption
          .map(j => new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(j).get("metaData"))
      }
    }

  /** table schema + partition columns from the latest metaData */
  private def tableMeta(fs: FileSystem, tablePath: String): (StructType, Seq[String]) = {
    require(fs.exists(new Path(tablePath, "_delta_log")), s"no Delta table at $tablePath")
    val md = latestMetaNode(fs, tablePath).getOrElse(throw new IllegalStateException(
      s"the JSON log of $tablePath carries no metaData"))
    val partCols = Option(md.get("partitionColumns"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
    (DataType.fromJson(md.get("schemaString").asText()).asInstanceOf[StructType],
      partCols)
  }

  /** Live table rows plus a `__rel` column naming each row's data file
    * (table-relative path — the victim locator deleteWhere/merge
    * aggregate on). Hive-partitioned tables read with basePath so
    * partition columns come back typed; `__rel` strips the qualified
    * root from `_metadata.file_path` after scheme normalization. */
  private def liveScan(spark: SparkSession, root: Path, schema: StructType,
      partCols: Seq[String], live: Seq[String],
      mapped: Boolean = false,
      // hidden physical long columns read ALONGSIDE the table schema
      // (row tracking's materialized columns — absent files read NULL)
      extraLongCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    val abs = live.map(r => new Path(root, r).toString)
    val extraFields = extraLongCols.map(StructField(_, LongType, nullable = true))
    // column-mapped tables store PHYSICAL names in parquet AND in the
    // hive partition dirs — read physical, project back to logical at
    // the end (schema field metadata carries the physicalName mapping)
    val readSchema = StructType(
      (if (!mapped) schema.fields.toSeq
       else schema.fields.toSeq.map(f => StructField(
         DeltaScan.physicalName(f), DeltaScan.physicalType(f.dataType), f.nullable)))
        ++ extraFields)
    val dataSchema = StructType(
      schema.fields.filterNot(f => partCols.contains(f.name))
        .map(f => if (!mapped) f else StructField(
          DeltaScan.physicalName(f), DeltaScan.physicalType(f.dataType), f.nullable))
        .toSeq ++ extraFields)
    val base =
      if (partCols.isEmpty) spark.read.schema(dataSchema).parquet(abs: _*)
      else spark.read.option("basePath", root.toString).schema(readSchema)
        .parquet(abs: _*)
    // `_metadata.file_path` is the file's URI form — hive-escaped dir
    // names re-encode ('%' → '%25'), so a string-munged rel would sit
    // in a DIFFERENT namespace than the log's on-disk rels and the DML
    // ops would remove/rewrite the wrong paths. Instead map URI → rel
    // through a broadcast lookup built from the SAME live list the
    // scan reads (Path.toUri produces the same encoding), keyed
    // scheme-stripped. Lookup size = live file count, always tiny.
    val stripScheme = "^[A-Za-z][A-Za-z0-9+.\\-]*:/+"
    def norm(s: String): String = s.replaceFirst(stripScheme, "/")
    val uriToRel = live.map { r =>
      (norm(new Path(root, r).toUri.toString), r)
    }
    require(uriToRel.map(_._1).distinct.size == live.size,
      "live file URIs are not distinct — cannot key the rel lookup")
    val lookup = broadcast(
      spark.createDataFrame(uriToRel).toDF("__uri", "__rel"))
    // resolve `_metadata` directly on the scan relation (a projection
    // in between could hide the metadata pseudo-column), THEN join
    base
      .withColumn("__uri",
        regexp_replace(col("_metadata.file_path"), stripScheme, "/"))
      .withColumn("__pos", col("_metadata.row_index"))
      .join(lookup, Seq("__uri"))
      .select(schema.fields.map(f =>
        if (!mapped) col(f.name)
        else col(DeltaScan.physicalName(f)).cast(f.dataType).as(f.name)).toSeq ++
        extraLongCols.map(col) ++
        Seq(col("__rel"), col("__pos")): _*)
  }

  /** is the table's latest metaData column-mapped? */
  private def isMapped(fs: FileSystem, tablePath: String): Boolean =
    latestMetaNode(fs, tablePath).exists(md =>
      configOf(md).getOrElse("delta.columnMapping.mode", "none") != "none")

  /** logical column list -> the physical write projection (identity
    * when unmapped); nested logical names re-label via a positional
    * struct cast, the reverse of the reader's toLogical */
  private def toPhysical(schema: StructType, mapped: Boolean,
      names: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.col
    names.map { n =>
      val f = schema(n)
      if (!mapped) col(n)
      else col(n).cast(DeltaScan.physicalType(f.dataType))
        .as(DeltaScan.physicalName(f))
    }
  }

  /** shared rewrite-commit tail: drop zero-row staged files (a victim
    * file whose every row died leaves an empty part), log adds with
    * footer stats + removes, one conditional commit */
  private def commitRewrite(spark: SparkSession, fs: FileSystem, root: Path,
      added: Seq[Staged], removedRels: Seq[String],
      txn: Option[(String, Long)] = None,
      operation: Option[String] = scala.None,
      scope: Option[CommitScope] = scala.None,
      extraActions: Seq[String] = Nil): Unit = {
    val now = System.currentTimeMillis()
    val actions =
      stagedAddLines(added, dataChange = true) ++ removedRels.map { rel =>
        s"""{"remove":{"path":${jstr(encodePath(rel))},"deletionTimestamp":$now,"dataChange":true}}"""
      } ++ extraActions
    val txnLines = txn.toSeq.map { case (app, tv) =>
      s"""{"txn":{"appId":${jstr(app)},"version":$tv,"lastUpdated":$now}}"""
    }
    scope match {
      case Some(s) => commitWithRetry(spark, fs, root, txnLines ++ actions, operation, s)
      case None =>
        val v = DeltaScan.latestVersion(spark, root.toString) + 1
        writeCommitFile(fs, root, v, txnLines ++ actions, operation = operation)
    }
  }

  /** add-action lines for freshly staged files, with the per-file
    * stats (the data-skipping index [[DeltaScan]] prunes with) from the
    * footer [[TableCommit.stage]] already read */
  private def stagedAddLines(added: Seq[Staged], dataChange: Boolean): Seq[String] = {
    val now = System.currentTimeMillis()
    added.map { f =>
      val stats = ParquetStats.statsJson(f.footer)
        .map(s => s""","stats":${jstr(s)}""").getOrElse("")
      s"""{"add":{"path":${jstr(encodePath(f.rel))},"partitionValues":{${partitionValuesJson(f.rel)}},"size":${f.size},"modificationTime":$now,"dataChange":$dataChange$stats}}"""
    }
  }

  /** Row-level DELETE, copy-on-write: remove every current row
    * matching `cond` by rewriting ONLY the files that hold matching
    * rows — survivors rewritten beside them, untouched files
    * untouched — behind one conditional `dataChange=true` commit
    * (removes + adds). Returns the number of rows deleted; matching
    * zero rows commits nothing. SQL DELETE semantics: rows where
    * `cond` is NULL are kept.
    *
    * Scale shape: victim location is ONE distributed aggregate
    * (count + collect_set of file path — driver state bounded by FILE
    * COUNT, never rows); the rewrite reads only victim files. Time
    * travel to pre-delete versions keeps working until [[vacuum]].
    * Scope: tables this writer maintains (no deletion vectors —
    * guarded loudly — and no column mapping). */
  def deleteWhere(spark: SparkSession, tablePath: String,
      cond: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireNoDeletionVectors(spark, tablePath)
    requireNoAbsoluteAdds(spark, fs, tablePath, "deleteWhere")
    requireNoRowTracking(spark, fs, tablePath, "deleteWhere")
    val root = fs.makeQualified(new Path(tablePath))
    val (schema, partCols) = tableMeta(fs, tablePath)
    val mapped = isMapped(fs, tablePath)
    val readV = DeltaScan.latestVersion(spark, tablePath)
    val live = replayActions(spark, fs, tablePath, Some(readV))
      .collect { case (p, true, _, _) => p }
    if (live.isEmpty) return 0L
    val hit = liveScan(spark, root, schema, partCols, live, mapped).filter(cond)
      .agg(count(lit(1)).as("n"), collect_set(col("__rel")).as("files"))
      .head() // [lint:bounded] one row: a count and a file-count-bounded set
    val nDeleted = hit.getLong(0)
    if (nDeleted == 0L) return 0L
    val victims = hit.getSeq[String](1).sorted

    val keep = !coalesce(cond, lit(false))
    val dataCols = schema.fieldNames.filterNot(partCols.contains)
    // change data feed: the deleted rows, typed 'delete', land as
    // change files in the SAME commit
    val cdcLines =
      if (!cdfEnabled(spark, fs, tablePath)) Seq.empty
      else stageCdcFiles(spark, fs, root, schema, partCols,
        liveScan(spark, root, schema, partCols, victims, mapped)
          .filter(coalesce(cond, lit(false)))
          .select(schema.fieldNames.map(col).toSeq: _*)
          .withColumn("_change_type", lit("delete")))
    // ONE staged write for every victim dir (TableCommit.stage moves
    // nested hive dirs): the former per-partition-directory loop launched one
    // Spark job per touched directory — a delete spanning D dirs paid
    // D sequential job latencies; the dynamic partitionBy write is the
    // same single-job shape commit() and merge already use, and the
    // partition-column clustering keeps files = touched partitions
    val added = TableCommit.stage(fs, root, destPrefix = "") { staging =>
      val survivors = liveScan(spark, root, schema, partCols, victims, mapped)
        .filter(keep)
      if (partCols.isEmpty)
        survivors.select(toPhysical(schema, mapped, dataCols.toSeq): _*)
          .write.mode("append").parquet(staging)
      else {
        val physParts = partCols.map(p =>
          if (mapped) DeltaScan.physicalName(schema(p)) else p)
        WriteLayout.clusterByPartitions(spark,
          survivors.select(toPhysical(schema, mapped, schema.fieldNames.toSeq): _*),
          physParts)
          .write.mode("append").partitionBy(physParts: _*).parquet(staging)
      }
    }
    commitRewrite(spark, fs, root, added, victims, operation = Some("DELETE"),
      scope = Some(CommitScope("DELETE", readV, victims.toSet,
        readsWholeTable = false, pred = Some((schema, cond)))),
      extraActions = cdcLines)
    nDeleted
  }

  /** Row-level UPDATE, copy-on-write: set `assignments` on every
    * current row matching `cond`, rewriting only the files that hold
    * matching rows. Every SET right-hand side sees the ORIGINAL row
    * values (one projection, SQL UPDATE semantics); rows where `cond`
    * is NULL are not updated. Partition columns cannot be assigned
    * (that moves rows across files — use [[merge]]); the assignment
    * must preserve the column's type (checked against the table
    * schema, loud otherwise). Returns the number of rows updated.
    * Same victim-location shape and scope guards as [[deleteWhere]]. */
  def updateWhere(spark: SparkSession, tablePath: String,
      cond: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)]): Long = {
    import org.apache.spark.sql.functions._
    require(assignments.nonEmpty, "updateWhere needs at least one SET assignment")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireNoDeletionVectors(spark, tablePath)
    requireNoAbsoluteAdds(spark, fs, tablePath, "updateWhere")
    requireNoRowTracking(spark, fs, tablePath, "updateWhere")
    val root = fs.makeQualified(new Path(tablePath))
    val (schema, partCols) = tableMeta(fs, tablePath)
    val mapped = isMapped(fs, tablePath)
    val setByName = assignments.toMap
    require(setByName.size == assignments.size, "duplicate SET column")
    assignments.foreach { case (n, _) =>
      require(schema.fieldNames.contains(n), s"SET column '$n' is not in the table schema")
      require(!partCols.contains(n),
        s"SET column '$n' is a partition column — updating it moves rows " +
          "across files; use merge for key-relocating updates")
    }
    refuseGeneratedAssignments(schema, setByName.keys, "updateWhere")
    refuseIdentity(schema, "updateWhere", setByName.keys)
    val readV = DeltaScan.latestVersion(spark, tablePath)
    val live = replayActions(spark, fs, tablePath, Some(readV))
      .collect { case (p, true, _, _) => p }
    if (live.isEmpty) return 0L
    val hit = liveScan(spark, root, schema, partCols, live, mapped).filter(cond)
      .agg(count(lit(1)).as("n"), collect_set(col("__rel")).as("files"))
      .head() // [lint:bounded] one row: a count and a file-count-bounded set
    val nUpdated = hit.getLong(0)
    if (nUpdated == 0L) return 0L
    val victims = hit.getSeq[String](1).sorted

    val fire = coalesce(cond, lit(false))
    val dataCols = schema.fieldNames.filterNot(partCols.contains)
    // one projection so every RHS reads pre-update values
    val projected = dataCols.map { n =>
      setByName.get(n).map(e => when(fire, e).otherwise(col(n)).as(n))
        .getOrElse(col(n))
    }
    // schema-preservation guard BEFORE any file is staged (plan-only,
    // no job): a widening coercion in a SET expression would silently
    // drift the table type otherwise
    val declared = StructType(schema.fields.filterNot(f => partCols.contains(f.name)))
    val probe = liveScan(spark, root, schema, partCols, victims.take(1), mapped)
      .select(projected.toSeq: _*).schema
    require(
      probe.fields.map(f => (f.name, f.dataType)).toSeq ==
        declared.fields.map(f => (f.name, f.dataType)).toSeq,
      s"UPDATE changes the schema to ${probe.simpleString} — " +
        s"assignments must preserve the table's ${declared.simpleString}")

    // CHECK constraints + NOT NULL gate the post-update rows (logical names)
    latestMetaNodeAny(spark, fs, tablePath).foreach { md =>
      val updatedRows = liveScan(spark, root, schema, partCols, victims, mapped)
        .select(projected.toSeq: _*)
      enforceConstraints(updatedRows, configOf(md))
      enforceRequired(updatedRows, schema)
    }

    // change data feed: pre/post images of exactly the fired rows
    val cdcLines =
      if (!cdfEnabled(spark, fs, tablePath)) Seq.empty
      else {
        val fired = liveScan(spark, root, schema, partCols, victims, mapped)
          .filter(fire)
        val pre = fired.select(schema.fieldNames.map(col).toSeq: _*)
          .withColumn("_change_type", lit("update_preimage"))
        val post = fired.select(schema.fieldNames.map(n =>
            setByName.get(n).map(e => e.as(n)).getOrElse(col(n))).toSeq: _*)
          .withColumn("_change_type", lit("update_postimage"))
        stageCdcFiles(spark, fs, root, schema, partCols, pre.unionByName(post))
      }
    // ONE staged write for every victim dir — same single-job dynamic
    // partitionBy shape as deleteWhere/merge (was a job per directory)
    val added = TableCommit.stage(fs, root, destPrefix = "") { staging =>
      val updated = liveScan(spark, root, schema, partCols, victims, mapped)
        .select((projected ++ partCols.map(col)).toSeq: _*)
      if (partCols.isEmpty)
        updated.select(toPhysical(schema, mapped, dataCols.toSeq): _*)
          .write.mode("append").parquet(staging)
      else {
        val physParts = partCols.map(p =>
          if (mapped) DeltaScan.physicalName(schema(p)) else p)
        WriteLayout.clusterByPartitions(spark,
          updated.select(toPhysical(schema, mapped, schema.fieldNames.toSeq): _*),
          physParts)
          .write.mode("append").partitionBy(physParts: _*).parquet(staging)
      }
    }
    commitRewrite(spark, fs, root, added, victims, operation = Some("UPDATE"),
      scope = Some(CommitScope("UPDATE", readV, victims.toSet,
        readsWholeTable = false, pred = Some((schema, cond)))),
      extraActions = cdcLines)
    nUpdated
  }

  /** Latest ADD action (as a mutable Jackson node) per live file, plus
    * the latest protocol action — the raw-JSON view [[deleteWhereDV]]
    * clones so re-adds keep stats/partitionValues/size byte-identical */
  private def replayLatestAdds(fs: FileSystem, tablePath: String)
      : (Map[String, com.fasterxml.jackson.databind.node.ObjectNode],
         Option[com.fasterxml.jackson.databind.node.ObjectNode]) = {
    val logDir = new Path(tablePath, "_delta_log")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val latest = scala.collection.mutable.LinkedHashMap
      .empty[String, Option[com.fasterxml.jackson.databind.node.ObjectNode]]
    var proto: Option[com.fasterxml.jackson.databind.node.ObjectNode] = scala.None
    val versions = fs.listStatus(logDir).toSeq.map(_.getPath.getName)
      .collect { case n if n.matches("\\d{20}\\.json") => n.stripSuffix(".json").toLong }
      .sorted
    // a checkpoint-truncated tail would yield a silently PARTIAL add
    // view — deleting/DV-ing against it corrupts; fail loudly instead
    require(versions.headOption.contains(0L) &&
        versions == (0L to versions.lastOption.getOrElse(-1L)),
      s"the JSON log of $tablePath is truncated (have ${versions.size} of " +
        s"${versions.lastOption.map(_ + 1).getOrElse(0L)} commits) — " +
        "row-level ops need the full JSON history")
    versions.foreach { v =>
      val p = new Path(logDir, f"$v%020d.json")
      val in = fs.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      lines.map(mapper.readTree).foreach { node =>
        if (node.has("add")) {
          val add = node.get("add").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          latest(decodePath(add.get("path").asText())) = Some(add)
        } else if (node.has("remove"))
          latest(decodePath(node.get("remove").get("path").asText())) = scala.None
        else if (node.has("protocol"))
          proto = Some(node.get("protocol").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      }
    }
    (latest.collect { case (p, Some(n)) => p -> n }.toMap, proto)
  }

  /** Row-level DELETE, merge-on-read: instead of rewriting files,
    * record the matching rows' ordinals as DELETION VECTORS (the
    * protocol's 'u'-storage RoaringBitmapArray files) and re-add each
    * victim file with its descriptor — an O(matching rows) commit that
    * never touches the data, the write-cheap twin of [[deleteWhere]]
    * (which stays the read-cheap choice: DV reads pay an anti-join).
    * Existing DVs union in; rows already dead are neither re-counted
    * nor re-listed. The commit upgrades the protocol to
    * reader 3 / writer 7 with the deletionVectors feature (readers
    * without DV support then refuse loudly instead of resurrecting
    * rows — including this library's own copy-on-write ops, which
    * refuse DV tables by design).
    *
    * Scale shape: victims aggregate per FILE (sorted ordinal arrays,
    * bounded by rows-per-file); each task writes its files' DV bins
    * EXECUTOR-side, so the driver sees only (file, descriptor) pairs —
    * bounded by victim file count. Crashed tasks may orphan
    * `deletion_vector_*.bin` files; they are never read (only
    * committed descriptors are) — same class as `.staging-*` dirs.
    * Returns the number of NEWLY deleted rows. */
  def deleteWhereDV(spark: SparkSession, tablePath: String,
      cond: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseOnCdf(spark, fs, tablePath, "deleteWhereDV")
    val root = fs.makeQualified(new Path(tablePath))
    val (schema, partCols) = tableMeta(fs, tablePath)
    val mapped = isMapped(fs, tablePath)
    val readV = DeltaScan.latestVersion(spark, tablePath)
    val (latestAdds, proto) = replayLatestAdds(fs, root.toString)
    if (latestAdds.isEmpty) return 0L
    val live = latestAdds.keys.toSeq.sorted

    val (oldDescByRel, oldPosDf) = dvState(spark, root.toString, latestAdds)
    val victims = liveScan(spark, root, schema, partCols, live, mapped)
      .filter(cond)
      .select(col("__rel"), col("__pos"))
      .join(oldPosDf, Seq("__rel", "__pos"), "left_anti")

    val (dvAdds, nDeleted, victimFiles) =
      stageDvReAdds(spark, root.toString, latestAdds, oldDescByRel, victims)
    if (nDeleted == 0L) return 0L
    commitWithRetry(spark, fs, root, dvProtocolAction(proto) ++ dvAdds,
      Some("DELETE (DV)"),
      CommitScope("DELETE (DV)", readV, victimFiles,
        readsWholeTable = false, pred = Some((schema, cond))))
    nDeleted
  }

  /** existing DV descriptors per live file + their dead positions as a
    * (__rel, __pos) frame — built executor-side from the descriptors
    * (bounded per task by one file's cardinality) */
  private def dvState(spark: SparkSession, rootStr: String,
      latestAdds: Map[String, com.fasterxml.jackson.databind.node.ObjectNode])
      : (Map[String, DeletionVectors.Descriptor], DataFrame) = {
    val oldDescByRel: Map[String, DeletionVectors.Descriptor] =
      latestAdds.flatMap { case (rel, add) =>
        val dv = add.get("deletionVector")
        if (dv == null || dv.isNull) scala.None
        else Some(rel -> DeletionVectors.Descriptor(
          dv.get("storageType").asText(), dv.get("pathOrInlineDv").asText(),
          Option(dv.get("offset")).map(_.asInt()),
          dv.get("sizeInBytes").asInt(), dv.get("cardinality").asLong()))
      }
    val holder = new DeletionVectors.ConfHolder(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    val oldPosDf =
      spark.sparkContext.parallelize(oldDescByRel.toSeq, math.max(1, oldDescByRel.size))
        .flatMap { case (rel, d) =>
          DeletionVectors.readPositions(holder.value, rootStr, d).map(p => (rel, p))
        }.toDF("__rel", "__pos")
    (oldDescByRel, oldPosDf)
  }

  /** per-victim-file DV union + EXECUTOR-side bin writes for a
    * (__rel, __pos) victim frame (already excluding rows dead under
    * existing DVs): returns (re-add action lines carrying the new
    * descriptors, newly-dead row count, victim file set). Shared by
    * the three DV DMLs. */
  private def stageDvReAdds(spark: SparkSession, rootStr: String,
      latestAdds: Map[String, com.fasterxml.jackson.databind.node.ObjectNode],
      oldDescByRel: Map[String, DeletionVectors.Descriptor],
      victims: DataFrame): (Seq[String], Long, Set[String]) = {
    import org.apache.spark.sql.functions._
    val holder = new DeletionVectors.ConfHolder(spark.sparkContext.hadoopConfiguration)
    // one pass: per victim file, the sorted new ordinals; DV files are
    // written INSIDE the tasks, the driver collects only descriptors
    val perFile = victims.groupBy("__rel")
      .agg(sort_array(collect_list(col("__pos"))).as("__ps"))
    val oldB = spark.sparkContext.broadcast(oldDescByRel)
    import spark.implicits._
    val written: Seq[(String, String, Int, Int, Long, Long)] = perFile
      .as[(String, Seq[Long])]
      .mapPartitions { rows =>
        rows.map { case (rel, newPos) =>
          val old = oldB.value.get(rel)
            .map(d => DeletionVectors.readPositions(holder.value, rootStr, d))
            .getOrElse(Array.empty[Long])
          val union = (old ++ newPos).distinct.sorted
          val d = DeletionVectors.writeDvFile(holder.value, rootStr, union)
          (rel, d.pathOrInlineDv, d.offset.getOrElse(1), d.sizeInBytes,
            d.cardinality, newPos.length.toLong)
        }
      }.collect().toSeq // [lint:bounded] one row per VICTIM FILE, never per row
    val adds = written.sortBy(_._1).map { case (rel, ref, off, size, card, _) =>
      val node = latestAdds(rel).deepCopy()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      node.set[com.fasterxml.jackson.databind.node.ObjectNode]("deletionVector",
        mapper.readTree(
          s"""{"storageType":"u","pathOrInlineDv":${jstr(ref)},"offset":$off,""" +
            s""""sizeInBytes":$size,"cardinality":$card}""")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      node.put("dataChange", true)
      s"""{"add":${node.toString}}"""
    }
    (adds, written.map(_._6).sum, written.map(_._1).toSet)
  }

  /** the reader-3/writer-7 deletionVectors feature upgrade, when the
    * table's current protocol lacks it (readers without DV support
    * then refuse loudly instead of resurrecting rows) */
  private def dvProtocolAction(
      proto: Option[com.fasterxml.jackson.databind.node.ObjectNode]): Seq[String] = {
    val needsUpgrade = proto.forall { p =>
      p.get("minReaderVersion").asInt() < 3 ||
        !Option(p.get("readerFeatures")).exists(_.elements().asScala
          .exists(_.asText() == "deletionVectors"))
    }
    if (!needsUpgrade) Seq.empty
    else Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""")
  }

  /** Row-level UPDATE, merge-on-read (deletion vectors): ONE commit
    * marks every matched row dead in its file's DV and appends new
    * data files holding the updated images — write cost O(matched
    * rows), never a victim-file rewrite; the DV twin of [[updateWhere]]
    * the way [[deleteWhereDV]] twins [[deleteWhere]]. Same projection
    * semantics (every SET right-hand side sees the ORIGINAL values),
    * same partition-column and type guards, CHECK/NOT NULL constraints
    * enforced on the images. Rows already dead under existing DVs
    * neither fire nor count. Returns the number of rows updated. */
  def updateWhereDV(spark: SparkSession, tablePath: String,
      cond: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)]): Long = {
    import org.apache.spark.sql.functions._
    require(assignments.nonEmpty, "updateWhereDV needs at least one SET assignment")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseOnCdf(spark, fs, tablePath, "updateWhereDV")
    val root = fs.makeQualified(new Path(tablePath))
    val (schema, partCols) = tableMeta(fs, tablePath)
    val mapped = isMapped(fs, tablePath)
    val setByName = assignments.toMap
    require(setByName.size == assignments.size, "duplicate SET column")
    assignments.foreach { case (n, _) =>
      require(schema.fieldNames.contains(n), s"SET column '$n' is not in the table schema")
      require(!partCols.contains(n),
        s"SET column '$n' is a partition column — updating it moves rows " +
          "across files; use merge for key-relocating updates")
    }
    refuseGeneratedAssignments(schema, setByName.keys, "updateWhereDV")
    refuseIdentity(schema, "updateWhereDV", setByName.keys)
    val readV = DeltaScan.latestVersion(spark, tablePath)
    val (latestAdds, proto) = replayLatestAdds(fs, root.toString)
    if (latestAdds.isEmpty) return 0L
    val live = latestAdds.keys.toSeq.sorted
    val (oldDescByRel, oldPosDf) = dvState(spark, root.toString, latestAdds)

    val matched = liveScan(spark, root, schema, partCols, live, mapped)
      .filter(cond)
      .join(oldPosDf, Seq("__rel", "__pos"), "left_anti")

    val (dvAdds, nUpdated, victimFiles) = stageDvReAdds(spark, root.toString,
      latestAdds, oldDescByRel, matched.select(col("__rel"), col("__pos")))
    if (nUpdated == 0L) return 0L

    val fire = coalesce(cond, lit(false))
    val dataCols = schema.fieldNames.filterNot(partCols.contains)
    // one projection so every RHS reads pre-update values (all staged
    // rows matched, but the guard keeps NULL-cond semantics airtight)
    val projected = dataCols.map { n =>
      setByName.get(n).map(e => when(fire, e).otherwise(col(n)).as(n))
        .getOrElse(col(n))
    }
    // schema-preservation guard BEFORE any file is staged (plan-only)
    val declared = StructType(schema.fields.filterNot(f => partCols.contains(f.name)))
    val probe = matched.select(projected.toSeq: _*).schema
    require(
      probe.fields.map(f => (f.name, f.dataType)).toSeq ==
        declared.fields.map(f => (f.name, f.dataType)).toSeq,
      s"UPDATE changes the schema to ${probe.simpleString} — " +
        s"assignments must preserve the table's ${declared.simpleString}")
    // CHECK constraints + NOT NULL gate the post-update images
    latestMetaNodeAny(spark, fs, tablePath).foreach { md =>
      val images = matched.select(projected.toSeq: _*)
      enforceConstraints(images, configOf(md))
      enforceRequired(images, schema)
    }

    // images land beside their source files (partition columns are not
    // assignable, so each victim partition dir keeps its own rows)
    val added = victimFiles.toSeq.sorted
      .groupBy(r => r.split('/').dropRight(1).mkString("/"))
      .toSeq.sortBy(_._1).flatMap { case (partDir, rels) =>
        TableCommit.stage(fs, root, destPrefix = partDir) { staging =>
          liveScan(spark, root, schema, partCols, rels, mapped)
            .filter(cond)
            .join(oldPosDf, Seq("__rel", "__pos"), "left_anti")
            .select(projected.toSeq: _*)
            .select(toPhysical(schema, mapped, dataCols.toSeq): _*)
            .write.mode("append").parquet(staging)
        }
      }
    commitWithRetry(spark, fs, root,
      dvProtocolAction(proto) ++ dvAdds ++ stagedAddLines(added, dataChange = true),
      Some("UPDATE (DV)"),
      CommitScope("UPDATE (DV)", readV, victimFiles,
        readsWholeTable = false, pred = Some((schema, cond))))
    nUpdated
  }

  /** MERGE (upsert) by key, merge-on-read (deletion vectors): matched
    * rows die via their files' DVs and ALL source rows land as new
    * data files — ONE commit, no victim rewrite, no survivor copy; the
    * DV twin of [[merge]]. Same source validation (schema match,
    * unique keys, NULL keys never match → insert) and constraint
    * gating; returns (updatedRows, insertedRows). */
  def mergeDV(spark: SparkSession, tablePath: String, source: DataFrame,
      keys: Seq[String], txn: Option[(String, Long)] = None): (Long, Long) = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "merge needs at least one key column")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseOnCdf(spark, fs, tablePath, "mergeDV")
    val root = fs.makeQualified(new Path(tablePath))
    val (schema, partCols) = tableMeta(fs, tablePath)
    refuseIdentity(schema, "mergeDV")
    val mapped = isMapped(fs, tablePath)
    // generated partition columns are derived ON the source (hidden-
    // partitioning UX; merge is also the op that MOVES rows across
    // derived partition dirs — the partitioned write lands each merged
    // row in the directory its re-derived value names)
    val source1 = deriveGenerated(latestMetaNodeAny(spark, fs, tablePath),
      source, Nil)._1
    require(
      schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        source1.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"merge source schema ${source1.schema.simpleString} does not match " +
        s"the table's ${schema.simpleString}")
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"merge key column '$k' is not in the table schema"))

    val src = source1.persist()
    try {
      val srcRows = src.count()
      if (srcRows == 0L) return (0L, 0L)
      require(src.groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).limit(1).count() == 0L,
        "merge source has duplicate key tuples — ambiguous upsert")
      val srcK = src.select(keys.map(col): _*)

      val readV = DeltaScan.latestVersion(spark, tablePath)
      val (latestAdds, proto) = replayLatestAdds(fs, root.toString)
      val live = latestAdds.keys.toSeq.sorted
      val (oldDescByRel, oldPosDf) = dvState(spark, root.toString, latestAdds)

      val matched =
        if (live.isEmpty) scala.None
        else Some(liveScan(spark, root, schema, partCols, live, mapped)
          .join(oldPosDf, Seq("__rel", "__pos"), "left_anti")
          .join(srcK, keys, "left_semi"))
      val (dvAdds, updated, victimFiles) = matched match {
        case Some(m) => stageDvReAdds(spark, root.toString, latestAdds,
          oldDescByRel, m.select(col("__rel"), col("__pos")))
        case scala.None => (Seq.empty[String], 0L, Set.empty[String])
      }
      // matched rows live only in victim files by construction
      val matchedSrc =
        if (victimFiles.isEmpty) 0L
        else srcK.join(
          liveScan(spark, root, schema, partCols, victimFiles.toSeq.sorted, mapped)
            .join(oldPosDf, Seq("__rel", "__pos"), "left_anti")
            .select(keys.map(col): _*), keys, "left_semi").count()
      val inserted = srcRows - matchedSrc

      val newLogical = src.select(schema.fieldNames.map(col).toSeq: _*)
      latestMetaNodeAny(spark, fs, tablePath).foreach { md =>
        enforceConstraints(newLogical, configOf(md))
        enforceRequired(newLogical, schema)
      }
      val newData = newLogical
        .select(toPhysical(schema, mapped, schema.fieldNames.toSeq): _*)
      val physParts = partCols.map(p =>
        if (mapped) DeltaScan.physicalName(schema(p)) else p)
      val added = TableCommit.stage(fs, root, destPrefix = "") { staging =>
        // cluster by partition columns: files = touched partitions,
        // not tasks x partitions (see commit())
        val clustered = WriteLayout.clusterByPartitions(spark, newData, physParts)
        val w = clustered.write.mode("append")
        (if (physParts.nonEmpty) w.partitionBy(physParts: _*) else w).parquet(staging)
      }
      // merge read the WHOLE table — every concurrent data append conflicts
      commitWithRetry(spark, fs, root,
        txn.toSeq.map { case (app, tv) =>
          s"""{"txn":{"appId":${jstr(app)},"version":$tv,"lastUpdated":${System.currentTimeMillis()}}}"""
        } ++ dvProtocolAction(proto) ++ dvAdds ++
          stagedAddLines(added, dataChange = true),
        Some("MERGE (DV)"),
        CommitScope("MERGE (DV)", readV, victimFiles,
          readsWholeTable = true, pred = scala.None))
      (updated, inserted)
    } finally src.unpersist()
  }

  /** PURGE (the REORG TABLE ... APPLY (PURGE) maintenance op):
    * materialize deletion vectors by rewriting every DV-carrying live
    * file WITHOUT its dead rows, clearing the DVs — `dataChange=false`
    * on both sides (the logical view is row-preserving, so streams
    * skip the commit and CDC sees no change). After a purge the
    * live view carries no DVs, so [[compact]]/[[zorder]] and the
    * copy-on-write DMLs work again; the superseded DV bins and
    * pre-purge parquet are reclaimed by [[vacuum]]. This closes the DV
    * lifecycle: DV DML absorbs high-churn writes cheaply, periodic
    * purge folds the debt back into clean files. Returns
    * (filesPurged, deadRowsDropped). */
  def purge(spark: SparkSession, tablePath: String): (Int, Long) = {
    import org.apache.spark.sql.functions._
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireNoAbsoluteAdds(spark, fs, tablePath, "purge")
    requireNoRowTracking(spark, fs, tablePath, "purge")
    val root = fs.makeQualified(new Path(tablePath))
    val (schema, partCols) = tableMeta(fs, tablePath)
    val mapped = isMapped(fs, tablePath)
    val readV = DeltaScan.latestVersion(spark, tablePath)
    val (latestAdds, _) = replayLatestAdds(fs, root.toString)
    val dvAdds = latestAdds.filter { case (_, add) =>
      add.get("deletionVector") != null && !add.get("deletionVector").isNull }
    if (dvAdds.isEmpty) return (0, 0L)
    val victims = dvAdds.keys.toSeq.sorted
    val dropped = dvAdds.values
      .map(_.get("deletionVector").get("cardinality").asLong()).sum

    val (_, oldPosDf) = dvState(spark, root.toString, latestAdds)
    val dataCols = schema.fieldNames.filterNot(partCols.contains)
    val added = victims.groupBy(r => r.split('/').dropRight(1).mkString("/"))
      .toSeq.sortBy(_._1).flatMap { case (partDir, rels) =>
        TableCommit.stage(fs, root, destPrefix = partDir) { staging =>
          liveScan(spark, root, schema, partCols, rels, mapped)
            .join(oldPosDf, Seq("__rel", "__pos"), "left_anti")
            .select(toPhysical(schema, mapped, dataCols.toSeq): _*)
            .write.mode("append").parquet(staging)
        }
      }
    // row-preserving swap: dataChange=false adds (no DV) + removes
    val now = System.currentTimeMillis()
    val actions =
      stagedAddLines(added, dataChange = false) ++ victims.map { rel =>
        s"""{"remove":{"path":${jstr(encodePath(rel))},"deletionTimestamp":$now,"dataChange":false}}"""
      }
    // reads exactly the victim files — disjoint concurrent work commutes
    commitWithRetry(spark, fs, root, actions, Some("PURGE"),
      CommitScope("PURGE", readV, victims.toSet,
        readsWholeTable = false, pred = scala.None))
    (victims.size, dropped)
  }

  /** MERGE (upsert) by key, copy-on-write: every current row whose key
    * tuple appears in `source` is replaced by the source row; source
    * rows with no match are inserted — one conditional
    * `dataChange=true` commit rewriting only the files that hold
    * matched rows. Returns (updatedRows, insertedRows). Source key
    * tuples must be unique (an ambiguous upsert fails loudly); the
    * source schema must match the table's; NULL keys never match
    * (standard equi-join semantics — such source rows insert).
    *
    * Scale shape: victim location and the matched-key count run ONLY
    * against victim-file rows after one semi-join aggregate (driver
    * state bounded by file count); survivors + source are written with
    * the table's own partitioning. Same scope guards as
    * [[deleteWhere]]. */
  def merge(spark: SparkSession, tablePath: String, source: DataFrame,
      keys: Seq[String], txn: Option[(String, Long)] = None): (Long, Long) = {
    val (u, i, _) = mergeInternal(spark, tablePath, source, keys, txn, scala.None)
    (u, i)
  }

  /** [[merge]] WITH DELETE CLAUSES — the APPLY CHANGES shape: the
    * source carries an extra BOOLEAN `tombstone` column; matched rows
    * whose source row is tombstoned are DELETED (unmatched tombstones
    * are no-ops), everything else upserts as in [[merge]]. One commit,
    * so a CDC batch's upserts and deletes land atomically. Returns
    * (rowsUpdated, rowsInserted, rowsDeleted). */
  def mergeApply(spark: SparkSession, tablePath: String, source: DataFrame,
      keys: Seq[String], tombstone: String,
      txn: Option[(String, Long)] = None): (Long, Long, Long) =
    mergeInternal(spark, tablePath, source, keys, txn, Some(tombstone))

  private def mergeInternal(spark: SparkSession, tablePath: String,
      source: DataFrame, keys: Seq[String], txn: Option[(String, Long)],
      tombstone: Option[String]): (Long, Long, Long) = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "merge needs at least one key column")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireNoDeletionVectors(spark, tablePath)
    requireNoAbsoluteAdds(spark, fs, tablePath, "merge")
    requireNoRowTracking(spark, fs, tablePath, "merge")
    val root = fs.makeQualified(new Path(tablePath))
    val (schema, partCols) = tableMeta(fs, tablePath)
    refuseIdentity(schema, "merge")
    val mapped = isMapped(fs, tablePath)
    // generated partition columns are derived ON the source (hidden-
    // partitioning UX; merge is also the op that MOVES rows across
    // derived partition dirs — the partitioned write lands each merged
    // row in the directory its re-derived value names)
    val source1 = deriveGenerated(latestMetaNodeAny(spark, fs, tablePath),
      source, Nil)._1
    // ONE persist of the whole source — the data and tombstone
    // branches below both filter the same cached rows, so the
    // (possibly expensive — applyChanges feeds a CDF read + window
    // here) upstream computes once, not once per branch
    val sourceP = source1.persist()
    // tombstoned rows contribute only their keys (a delete needs no
    // payload); the data rows must carry the full table schema
    val (srcData0, tombK0) = tombstone match {
      case scala.None => (sourceP, scala.None)
      case Some(tc) =>
        require(sourceP.columns.contains(tc),
          s"tombstone column '$tc' is not in the merge source")
        require(sourceP.schema(tc).dataType == org.apache.spark.sql.types.BooleanType,
          s"tombstone column '$tc' must be BOOLEAN")
        val flag = coalesce(col(tc), lit(false))
        (sourceP.filter(!flag).drop(tc),
          Some(sourceP.filter(flag).select(keys.map(col): _*)))
    }
    require(
      schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        srcData0.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"merge source schema ${srcData0.schema.simpleString} does not match " +
        s"the table's ${schema.simpleString}")
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"merge key column '$k' is not in the table schema"))
    val src = srcData0
    val tombKeys = tombK0
    try {
      val dataK = src.select(keys.map(col): _*)
      // ONE job for source/tombstone row counts AND the duplicate-key
      // guard (was three actions): per-key multiplicities aggregate to
      // the totals and the max multiplicity in a single pass
      val tagged = tombKeys.fold(dataK.withColumn("__t", lit(0)))(t =>
        dataK.withColumn("__t", lit(0)).unionByName(t.withColumn("__t", lit(1))))
      val srcStats = tagged.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n"), sum(col("__t")).as("__nt"))
        .agg(coalesce(sum(col("__n") - col("__nt")), lit(0L)).as("src"),
          coalesce(sum(col("__nt")), lit(0L)).as("tomb"),
          coalesce(max(col("__n")), lit(0L)).as("maxMult"))
        .head() // [lint:bounded] one metrics row
      val srcRows = srcStats.getLong(0)
      val tombRows = srcStats.getLong(1)
      if (srcRows == 0L && tombRows == 0L) return (0L, 0L, 0L)
      require(srcStats.getLong(2) <= 1L,
        "merge source has duplicate key tuples (or a key both upserted " +
          "and tombstoned) — ambiguous apply")
      val allK = tombKeys.fold(dataK)(t => dataK.unionByName(t))

      val readV = DeltaScan.latestVersion(spark, tablePath)
      val live = replayActions(spark, fs, tablePath, Some(readV))
        .collect { case (p, true, _, _) => p }
      // ONE job for the victim-file sweep AND the three merge metrics
      // (was two: a semi-join collect_set over all live files, then a
      // victim-only metrics aggregate that re-scanned the victims):
      // every live row joins its key's flag row (duplicate-free by the
      // guard above — a key is upserted XOR tombstoned), one global
      // aggregate yields the matched files, the matched target rows
      // per kind, and the count of distinct matched source keys
      // (= matched source ROWS, keys being unique).
      val (victims, updated, deleted, matchedSrc) =
        if (live.isEmpty) (Seq.empty[String], 0L, 0L, 0L)
        else {
          val srcK = dataK.distinct()
            .withColumn("__s", lit(1)).withColumn("__d", lit(0))
          val keyFlags = tombKeys.fold(srcK)(t => srcK.unionByName(
            t.distinct().withColumn("__s", lit(0)).withColumn("__d", lit(1))))
          // two-level agg, no DISTINCT aggregate (which would plan an
          // Expand + sort-agg fallback next to collect_set): per-key
          // row counts + per-key file sets, then one global fold —
          // each matched key owns exactly one flag row, so the key
          // count IS the matched-source-key count
          val m = liveScan(spark, root, schema, partCols, live, mapped)
            .join(keyFlags, keys, "inner")
            .groupBy((keys.map(col) :+ col("__s") :+ col("__d")): _*)
            .agg(count(lit(1)).as("__nt"), collect_set(col("__rel")).as("__fk"))
            .agg(
              array_distinct(flatten(collect_list(col("__fk")))).as("files"),
              coalesce(sum(when(col("__s") === 1, col("__nt"))), lit(0L)),
              coalesce(sum(when(col("__d") === 1, col("__nt"))), lit(0L)),
              coalesce(sum(col("__s").cast("long")), lit(0L)))
            .head() // [lint:bounded] one metrics row + file-count-bounded set
          (m.getSeq[String](0).sorted, m.getLong(1), m.getLong(2), m.getLong(3))
        }
      // matched rows live only in victim files by construction
      def vScan = liveScan(spark, root, schema, partCols, victims, mapped)
      val inserted = srcRows - matchedSrc

      if (victims.isEmpty && srcRows == 0L) return (0L, 0L, 0L)

      val survivorSeq =
        if (victims.isEmpty) Seq.empty // pure insert (unmatched tombstones no-op)
        else Seq(vScan.join(allK, keys, "left_anti")
          .select(schema.fieldNames.map(col).toSeq: _*))
      val newLogical = (survivorSeq :+
        src.select(schema.fieldNames.map(col).toSeq: _*)).reduce(_ unionByName _)
      // CHECK constraints + NOT NULL gate the merged rows (logical names)
      latestMetaNodeAny(spark, fs, tablePath).foreach { md =>
        enforceConstraints(newLogical, configOf(md))
        enforceRequired(newLogical, schema)
      }
      val newData = newLogical
        .select(toPhysical(schema, mapped, schema.fieldNames.toSeq): _*)
      val physParts = partCols.map(p =>
        if (mapped) DeltaScan.physicalName(schema(p)) else p)
      // change data feed: matched target rows (pre), their source
      // replacements (post), unmatched source rows (insert), and
      // tombstoned matches (delete)
      val cdcLines =
        if (!cdfEnabled(spark, fs, tablePath)) Seq.empty
        else if (victims.isEmpty) // pure insert: every source row inserts
          stageCdcFiles(spark, fs, root, schema, partCols,
            src.select(schema.fieldNames.map(col).toSeq: _*)
              .withColumn("_change_type", lit("insert")))
        else {
          val matchedPre = vScan.join(dataK, keys, "left_semi")
            .select(schema.fieldNames.map(col).toSeq: _*)
            .withColumn("_change_type", lit("update_preimage"))
          val vKeys = vScan.select(keys.map(col): _*)
          val matchedPost = src.join(vKeys, keys, "left_semi")
            .select(schema.fieldNames.map(col).toSeq: _*)
            .withColumn("_change_type", lit("update_postimage"))
          val ins = src.join(vKeys, keys, "left_anti")
            .select(schema.fieldNames.map(col).toSeq: _*)
            .withColumn("_change_type", lit("insert"))
          val dels = tombKeys.map(t => vScan.join(t, keys, "left_semi")
            .select(schema.fieldNames.map(col).toSeq: _*)
            .withColumn("_change_type", lit("delete")))
          stageCdcFiles(spark, fs, root, schema, partCols,
            dels.foldLeft(matchedPre.unionByName(matchedPost).unionByName(ins))(
              _ unionByName _))
        }
      val added = TableCommit.stage(fs, root, destPrefix = "") { staging =>
        // cluster by partition columns: files = touched partitions,
        // not tasks x partitions (see commit())
        val clustered = WriteLayout.clusterByPartitions(spark, newData, physParts)
        val w = clustered.write.mode("append")
        (if (physParts.nonEmpty) w.partitionBy(physParts: _*) else w).parquet(staging)
      }
      // merge read the WHOLE table (any concurrently appended row could
      // collide with a source key and flip a not-matched INSERT into a
      // duplicate) — every concurrent data append is a conflict
      commitRewrite(spark, fs, root, added, victims, txn, operation = Some("MERGE"),
        scope = Some(CommitScope("MERGE", readV, victims.toSet,
          readsWholeTable = true, pred = scala.None)),
        extraActions = cdcLines)
      (updated, inserted, deleted)
    } finally sourceP.unpersist()
  }

  /** INCREMENTAL CHANGE APPLICATION (the medallion hop): read the
    * SOURCE table's change feed past the last applied version and
    * apply it to the TARGET in ONE [[mergeApply]] commit — upserts
    * from the latest post-image/insert per key, deletes from delete
    * rows, EXACTLY-ONCE via the txn ledger (`appId`): the applied
    * range's end version rides the merge commit itself, and a
    * re-delivered range is skipped, never double-applied. Returns
    * (updated, inserted, deleted). */
  def applyChanges(spark: SparkSession, sourceTable: String,
      targetTable: String, keys: Seq[String],
      appId: String, startVersion: Long = 0L): (Long, Long, Long) = {
    import org.apache.spark.sql.functions._
    val latest = DeltaScan.latestVersion(spark, sourceTable)
    val from = lastTxnVersion(spark, targetTable, appId)
      .map(_ + 1L).getOrElse(startVersion)
    if (latest < from) return (0L, 0L, 0L)
    val ch = DeltaScan.readCdf(spark, sourceTable, from, latest)
    // last effective change per key wins (preimages are bookkeeping;
    // one DML per version means one effective row per key per version)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("_commit_version").desc)
    val last = ch.filter(col("_change_type") =!= "update_preimage")
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val srcApply = last
      .withColumn("__tombstone", col("_change_type") === "delete")
      .drop("_change_type", "_commit_version")
    // no isEmpty pre-check: it cost a full extra CDF-read + window pass
    // before mergeApply's own (cached) one — mergeInternal returns
    // (0,0,0) without committing on an empty change set, identically
    mergeApply(spark, targetTable, srcApply, keys, "__tombstone",
      txn = Some((appId, latest)))
  }

  /** Z-ORDER cluster the table: rewrite the LIVE data files (per
    * partition directory) with rows ordered by the bit-interleaved
    * key of `dims` ([[graft.operators.ScaleOps.zorderValue]]), swapped
    * in behind ONE conditional `dataChange=false` commit — same
    * reader-transparency contract as [[compact]]. The rewritten files
    * carry fresh footer stats, so [[DeltaScan]]'s `skippingFilter`
    * prunes on ANY dimension of the key, not just a lead sort column —
    * multi-column data skipping is the whole point of Z-ordering.
    *
    * Dimension domains are mapped to `bitsPerCol`-bit buckets by
    * EQUAL-WIDTH division of each dim's global [min, max] (one cheap
    * aggregate over the dims, never the payload): pure codegen'd
    * arithmetic per row, no per-row search. Heavily skewed dims get
    * coarser effective resolution — pre-transform (log, rank) if that
    * matters; clustering quality is a performance property, file
    * correctness never depends on it. Dims must be numeric, date, or
    * timestamp; NULLs sort to bucket 0. The rewrite is a distributed
    * range-partitioned sort per partition directory (`targetFiles`
    * output files each), never a single-task funnel.
    *
    * Scope: tables this writer maintains (no deletion vectors — a DV
    * rewrite would resurrect deleted rows; guarded loudly). Time
    * travel to pre-zorder versions keeps working until [[vacuum]]. */
  def zorder(spark: SparkSession, tablePath: String, dims: Seq[String],
      bitsPerCol: Int = 12, targetFiles: Int = 8): Unit = {
    require(dims.nonEmpty, "need at least one z-order dimension")
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    require(bitsPerCol >= 1 && bitsPerCol * dims.size <= 63,
      s"bitsPerCol * nDims must fit a signed long, got $bitsPerCol * ${dims.size}")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(tablePath))
    requireNoDeletionVectors(spark, tablePath)
    requireNoAbsoluteAdds(spark, fs, tablePath, "zorder")
    requireNoRowTracking(spark, fs, tablePath, "zorder")
    val readV = DeltaScan.latestVersion(spark, tablePath)
    val live = replayActions(spark, fs, tablePath, Some(readV))
      .collect { case (p, true, _, _) => p }
    require(live.nonEmpty, s"no live data files to z-order at $tablePath")
    val groups = live.groupBy(rel => rel.split('/').dropRight(1).mkString("/"))

    import org.apache.spark.sql.functions._
    // the raw read below sees PHYSICAL column names — translate the
    // caller's logical dims on a mapped table
    val physDims = if (!isMapped(fs, tablePath)) dims else {
      val (sch, _) = tableMeta(fs, tablePath)
      dims.map { d =>
        sch.fields.find(_.name == d).map(DeltaScan.physicalName)
          .getOrElse(d) // unknown dims keep their name for the loud check below
      }
    }
    val full = spark.read.parquet(live.map(r => new Path(root, r).toString): _*)
    physDims.foreach { d =>
      val f = full.schema.fields.find(_.name == d).getOrElse(
        throw new IllegalArgumentException(
          s"z-order dim '$d' not in data columns ${full.columns.mkString(", ")} " +
            "(partition columns are already directory-pruned — z-order data columns)"))
      import org.apache.spark.sql.types._
      require(f.dataType.isInstanceOf[NumericType] || f.dataType == DateType ||
          f.dataType == TimestampType || f.dataType == TimestampNTZType,
        s"z-order dim '$d' has type ${f.dataType.simpleString}; " +
          "numeric/date/timestamp required (hash or rank strings yourself)")
    }
    // one metadata-cheap agg: global [min,max] per dim for the bucket grid
    val aggCols = physDims.flatMap(d => Seq(
      min(col(d).cast("double")).as(s"__mn_$d"), max(col(d).cast("double")).as(s"__mx_$d")))
    val bounds = full.agg(aggCols.head, aggCols.tail: _*).collect()(0) // [lint:bounded] one agg row
    val nb = 1L << bitsPerCol
    val buckets = physDims.zipWithIndex.map { case (d, i) =>
      val mn = if (bounds.isNullAt(2 * i)) 0.0 else bounds.getDouble(2 * i)
      val mx = if (bounds.isNullAt(2 * i + 1)) 0.0 else bounds.getDouble(2 * i + 1)
      if (mx <= mn) lit(0L)
      else least(lit(nb - 1), greatest(lit(0L),
        floor((col(d).cast("double") - lit(mn)) / lit((mx - mn) / nb)).cast("long")))
    }
    val z = graft.operators.ScaleOps.zorderValue(buckets, bitsPerCol)

    val added = groups.toSeq.sortBy(_._1).flatMap { case (partDir, rels) =>
      TableCommit.stage(fs, root, destPrefix = partDir) { staging =>
        spark.read.parquet(rels.map(r => new Path(root, r).toString): _*)
          .withColumn("__graft_z", z)
          .repartitionByRange(targetFiles, col("__graft_z"))
          .sortWithinPartitions("__graft_z")
          .drop("__graft_z")
          .write.mode("append").parquet(staging)
      }
    }
    require(added.nonEmpty, "z-order rewrite produced no files")

    val now = System.currentTimeMillis()
    val actions =
      stagedAddLines(added, dataChange = false) ++ live.sorted.map { rel =>
        s"""{"remove":{"path":${jstr(encodePath(rel))},"deletionTimestamp":$now,"dataChange":false}}"""
      }
    // rewrites exactly the live files it read — concurrent appends land
    // as files this swap never touches and commute
    commitWithRetry(spark, fs, root, actions, Some("OPTIMIZE (ZORDER)"),
      CommitScope("OPTIMIZE (ZORDER)", readV, live.toSet,
        readsWholeTable = false, pred = scala.None))
  }

  /** rewriting a DV-carrying file from its raw parquet would resurrect
    * the deleted rows — refuse loudly */
  /** the safety condition for raw-parquet rewrites is the LIVE view:
    * a file whose CURRENT add carries a deletion vector cannot be
    * rewritten from its raw parquet (the dead rows would resurrect).
    * Superseded/historic DV adds are harmless — which is what lets
    * [[purge]] re-enable the copy-on-write ops on a DV table. */
  private def requireNoDeletionVectors(spark: SparkSession, tablePath: String): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (latestAdds, _) = replayLatestAdds(fs,
      fs.makeQualified(new Path(tablePath)).toString)
    val dvFiles = latestAdds.collect { case (rel, add)
        if add.get("deletionVector") != null && !add.get("deletionVector").isNull => rel }
    require(dvFiles.isEmpty,
      s"table $tablePath carries LIVE deletion vectors on ${dvFiles.size} " +
        "file(s) — rewriting those files from raw parquet would resurrect " +
        "deleted rows; run purge() first to materialize the DVs")
  }

  /** hive path segments col=value → partitionValues JSON body */
  private def partitionValuesJson(rel: String): String =
    rel.split('/').dropRight(1).collect {
      case seg if seg.contains('=') =>
        val Array(k, v) = seg.split("=", 2)
        s"${jstr(k)}:${jstr(hiveUnescape(v))}"
    }.mkString(",")

  /** VACUUM: physically delete data files whose latest log action is a
    * `remove` older than `retainMs` (default 7 days — the Delta
    * convention protecting in-flight readers and recent time travel).
    * Files still referenced by the CURRENT snapshot are never
    * touched; time travel to versions that referenced the deleted
    * files stops working, exactly as in Delta proper. Returns the
    * relative paths deleted (or that WOULD be deleted with
    * `dryRun=true`). */
  def vacuum(spark: SparkSession, tablePath: String,
      retainMs: Long = 7L * 24 * 3600 * 1000, dryRun: Boolean = false): Seq[String] = {
    require(retainMs >= 0, s"retainMs must be >= 0, got $retainMs")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(tablePath))
    val cutoff = System.currentTimeMillis() - retainMs
    val (acts, rawLogged) = replayActionsWithRaw(spark, fs, tablePath)
    val removed = acts
      .collect { case (p, false, _, ts) if ts <= cutoff => p }
      .filter(rel => fs.exists(new Path(root, rel)))
    // UNTRACKED files (no log action references them at all) are
    // protocol vacuum targets too — that is where a lost
    // optimistic-concurrency round's data files end up
    // ([[appendWithRetry]]): renamed into the root, then the
    // conditional commit lost, so no add ever named them. The mtime
    // retention window protects any writer currently between its
    // move and its commit. A file counts as tracked if its DECODED,
    // RAW, or re-ENCODED name appears in the log — three namespaces
    // because external writers disagree on encoding (delta-spark
    // leaves '+' raw; pre-fix graft logged raw hive escapes), and an
    // encoding mismatch must degrade to unreclaimed space, never to
    // deleting a live data file.
    val trackedSet = acts.map(_._1).toSet
    val orphans = listDataFiles(fs, root).collect {
      case (rel, _)
          if !trackedSet.contains(rel) && !rawLogged.contains(rel) &&
            !rawLogged.contains(encodePath(rel)) &&
            fs.getFileStatus(new Path(root, rel)).getModificationTime <= cutoff =>
        rel
    }
    // belt-and-suspenders: whatever classified a path as doomed, a name
    // the CURRENT snapshot references is never deleted — a residual
    // encoding mismatch must degrade to unreclaimed space, not data loss
    val liveSet = acts.collect { case (p, true, _, _) => p }.toSet
    // a path OUTSIDE the table root (absolute adds — a shallow clone's
    // pointers into its source) is never deleted: dropping or vacuuming
    // a clone must not damage the source table
    val doomed = (removed ++ orphans).filterNot(liveSet.contains)
      .filterNot(isAbsolutePath)
    if (!dryRun) doomed.foreach(rel => fs.delete(new Path(root, rel), false))
    if (!dryRun) TableCommit.sweepStaleStaging(fs, root, cutoff)
    // deletion-vector bins: live = the descriptors on the CURRENT
    // latest adds; superseded DVs (each deleteWhereDV replaces a
    // file's descriptor) and crashed tasks' orphans reclaim past the
    // window — time travel to the versions that referenced them dies
    // with them, the standard vacuum trade
    val dvDoomed: Seq[String] =
      if (!fs.exists(root)) Seq.empty
      else {
        val liveDv: Set[String] = replayLatestAdds(fs, root.toString)._1
          .values.flatMap { add =>
            val dv = add.get("deletionVector")
            if (dv == null || dv.isNull) scala.None
            else if (dv.get("storageType").asText() != "u") scala.None
            else Some(DeletionVectors.uuidFile(root.toString,
              dv.get("pathOrInlineDv").asText()).getName)
          }.toSet
        fs.listStatus(root).toSeq.collect {
          case s if !s.isDirectory &&
              s.getPath.getName.startsWith("deletion_vector_") &&
              s.getPath.getName.endsWith(".bin") &&
              !liveDv.contains(s.getPath.getName) &&
              s.getModificationTime <= cutoff =>
            if (!dryRun) fs.delete(s.getPath, false)
            s.getPath.getName
        }
      }
    doomed ++ dvDoomed
  }

  /** What a DML commit READ, for optimistic-concurrency validation:
    * the log version its plan was computed from, the live files it
    * removes/rewrites, and how wide its read was — `pred` (the DML's
    * row predicate, resolved against the LOGICAL schema) lets
    * stats-provably-disjoint concurrent appends commute;
    * `readsWholeTable` (merge: any appended row could collide with a
    * source key) makes every concurrent data append a conflict. */
  private final case class CommitScope(
      op: String,
      readVersion: Long,
      touched: Set[String],
      readsWholeTable: Boolean,
      pred: Option[(StructType, org.apache.spark.sql.Column)])

  /** OCC validation of the commits in `(fromExclusive, toInclusive]`
    * against a DML's read/write scope — the delta-spark conflict
    * rules, conservatively:
    *  - metaData / protocol changes always conflict (schema,
    *    constraints, or features may invalidate the plan);
    *  - a remove (or re-add) of a file the DML rewrites/removes
    *    conflicts (lost update otherwise);
    *  - a `dataChange=true` add conflicts when the DML read the whole
    *    table, or when its footer stats cannot PROVE the new file
    *    holds no row matching the DML's predicate (disjoint files /
    *    partitions commute — the stats check is the same pruner the
    *    reader skips with);
    *  - txn / commitInfo / cdc actions and `dataChange=false`
    *    compaction swaps of UNtouched files commute.
    * Throws ConcurrentModificationException on conflict. */
  private def checkDmlConflicts(spark: SparkSession, fs: FileSystem, root: Path,
      scope: CommitScope, fromExclusive: Long, toInclusive: Long): Unit = {
    val logDir = new Path(root, "_delta_log")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val predExpr = scope.pred.map { case (schema, c) =>
      ParquetStats.predicateExpr(spark, schema, c)
    }
    def conflict(v: Long, why: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"${scope.op} (planned at version ${scope.readVersion}) conflicts " +
          s"with concurrent commit $v: $why — re-run the operation on the " +
          "current table state")
    ((fromExclusive + 1) to toInclusive).foreach { v =>
      val p = new Path(logDir, f"$v%020d.json")
      require(fs.exists(p),
        s"cannot validate concurrent commit $v of $root — log truncated?")
      val in = fs.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      lines.map(mapper.readTree).foreach { node =>
        if (node.has("metaData")) conflict(v, "table metadata changed")
        else if (node.has("protocol")) conflict(v, "table protocol changed")
        else if (node.has("domainMetadata"))
          // a concurrent domain write (clustering declaration, row-id
          // high-watermark bump) and this DML's own stamped domain
          // cannot both be replayed blindly — conservative conflict
          conflict(v, "table domain metadata changed concurrently " +
            s"(domain ${node.get("domainMetadata").get("domain").asText()})")
        else if (node.has("remove")) {
          val rel = decodePath(node.get("remove").get("path").asText())
          if (scope.touched(rel))
            conflict(v, s"file $rel this operation rewrites/removes was " +
              "removed concurrently")
        } else if (node.has("add")) {
          val add = node.get("add")
          val rel = decodePath(add.get("path").asText())
          if (scope.touched(rel))
            conflict(v, s"file $rel this operation rewrites/removes was " +
              "rewritten concurrently")
          val dataChange = Option(add.get("dataChange")).forall(_.asBoolean())
          if (dataChange) {
            if (scope.readsWholeTable)
              conflict(v, s"data file $rel was added concurrently and this " +
                "operation read the whole table")
            predExpr.foreach { pe =>
              val st = Option(add.get("stats")).filterNot(_.isNull).map(_.asText())
              if (ParquetStats.mayMatch(st.flatMap(ParquetStats.parse), pe))
                conflict(v, s"concurrently added file $rel may hold rows " +
                  "matching this operation's predicate")
            }
          }
        }
      }
    }
  }

  /** test seam: runs between a DML's planning and its first commit
    * attempt — the deterministic way to land a racing commit inside
    * the TOCTOU window the OCC validation closes */
  private[graft] var beforeDmlCommit: () => Unit = () => ()

  /** conditional DML commit with OCC RETRY ([[TableCommit.retry]]):
    * validates EVERY commit that landed after the DML's read version
    * (including ones that landed between planning and this call — the
    * classic TOCTOU window), then commits at the next version; a lost
    * CAS re-reads, re-validates just the new commits, and tries again.
    * Commuting winners (appends the stats prove disjoint, compactions
    * of untouched files, txn markers) never force a replan; conflicting
    * ones abort loudly with the reason. */
  private def commitWithRetry(spark: SparkSession, fs: FileSystem, root: Path,
      lines: Seq[String], operation: Option[String], scope: CommitScope): Unit = {
    beforeDmlCommit()
    var checked = scope.readVersion
    def validate(): Unit = {
      val latest = DeltaScan.latestVersion(spark, root.toString)
      if (latest > checked) {
        checkDmlConflicts(spark, fs, root, scope, checked, latest)
        checked = latest
      }
    }
    validate()
    TableCommit.retry(revalidate = _ => validate())(
      writeCommitFile(fs, root, checked + 1, lines, operation = operation))
  }

  /** suppresses the auto-checkpoint while a checkpoint itself is being
    * written (its v2 protocol-upgrade commit must not recurse) */
  private val inCheckpoint = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  /** AUTO-CHECKPOINT (protocol behavior `delta.checkpointInterval`,
    * default 10): after a successful commit at a version divisible by
    * the interval, write a checkpoint so a high-churn table (a CDC
    * medallion applying thousands of commits) never makes readers
    * replay O(commits) JSON — every reader pays at most one checkpoint
    * plus `interval` tail commits. Runs AFTER the commit is durable:
    * a checkpoint failure logs and proceeds (the commit itself must
    * never be failed retroactively), and the next interval boundary
    * retries incrementally. `delta.checkpointInterval = 0` disables.
    * The layout follows the table: v2 (UUID + sidecars) only when the
    * protocol already carries the v2Checkpoint feature — the auto path
    * never upgrades a protocol on its own. */
  private def maybeAutoCheckpoint(spark: SparkSession, fs: FileSystem,
      root: Path, version: Long): Unit = {
    if (version <= 0L || inCheckpoint.get()) return
    try {
      val interval = latestMetaNodeAny(spark, fs, root.toString)
        .flatMap(md => configOf(md).get("delta.checkpointInterval"))
        .map(_.trim.toInt).getOrElse(10)
      if (interval <= 0 || version % interval != 0L) return
      val v2 = latestProtoNodeAny(spark, fs, root.toString).exists(p =>
        Option(p.get("writerFeatures")).exists(_.elements().asScala
          .exists(_.asText() == "v2Checkpoint")))
      inCheckpoint.set(true)
      try checkpointImpl(spark, root.toString, v2 = v2)
      finally inCheckpoint.set(false)
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"auto-checkpoint at version $version of $root failed " +
            "(commit is durable; the next interval retries)", e)
    }
  }

  private def writeCommitFile(fs: FileSystem, root: Path, version: Long,
      actions0: Seq[String], operation: Option[String] = scala.None): Unit = {
    // row-tracked tables: adds get baseRowId/defaultRowCommitVersion +
    // the bumped high-watermark HERE, inside the commit write, so OCC
    // retries re-stamp from fresh state (identity when not enabled)
    val stamped = stampRowTracking(fs, root, version, actions0)
    // a commitInfo with the operation name makes DESCRIBE-HISTORY-style
    // tooling (and timestamp travel) read in-commit evidence
    val actions = operation.map(op =>
      s"""{"commitInfo":{"timestamp":${System.currentTimeMillis()},"operation":${jstr(op)}}}""")
      .toSeq ++ stamped
    TableCommit.publish(fs, new Path(root, f"_delta_log/$version%020d.json"),
      actions.mkString("", "\n", "\n"), "Delta")
    maybeAutoCheckpoint(SparkSession.active, fs, root, version)
  }

  /** all data files under the table root, as (relative path, size),
    * excluding the log dir and non-parquet markers */
  private def listDataFiles(fs: FileSystem, root: Path): Seq[(String, Long)] = {
    if (!fs.exists(root)) return Seq.empty
    val rootStr = root.toString.stripSuffix("/") + "/"
    val out = Seq.newBuilder[(String, Long)]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath.toString
      if (p.startsWith(rootStr)) {
        val rel = p.substring(rootStr.length)
        // hidden segments (.staging-* above all) are never table data —
        // a concurrent writer's in-flight staged files must not be
        // listed as claimable
        val hidden = rel.split('/').exists(s => s.startsWith(".") || s.startsWith("_"))
        if (!hidden && rel.endsWith(".parquet"))
          out += ((rel, st.getLen))
      }
    }
    out.result()
  }

  /** minimal hive-path unescape (%xx sequences) for partition values */
  private def hiveUnescape(s: String): String = DeltaScan.percentDecode(s)

  /** on-disk relative path → spec-compliant log action path: every
    * byte outside the unreserved set percent-encodes (incl. '%' itself
    * and '+', which URLDecoder would otherwise mangle); '/' and the
    * hive 'col=value' '=' stay readable. decode(encode(x)) == x by
    * construction, so the reader's URLDecoder round-trips EXACTLY the
    * on-disk name — including names that already carry hive escapes
    * like 'ts=10%3A00' (logged as 'ts=10%253A00'). */
  private[sources] def encodePath(rel: String): String = {
    val sb = new StringBuilder(rel.length + 8)
    rel.getBytes(StandardCharsets.UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      val plain = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '/' || c == '-' || c == '_' ||
        c == '.' || c == '~' || c == '='
      if (plain) sb.append(c) else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  /** log action path → on-disk relative path (the same percent-only
    * decode DeltaScan.read uses, so reader and writer agree on the
    * decoded namespace). RFC 3986 semantics: '+' stays literal —
    * form-decoding would turn an external writer's unencoded
    * `a+b.parquet` into `a b.parquet` and make vacuum delete the live
    * file as an orphan. Malformed escapes pass through RAW rather than
    * throwing — a legacy log must degrade to the old raw comparison,
    * never crash replay. */
  private def decodePath(p: String): String = DeltaScan.percentDecode(p)

  // ======================================================================
  // ROW TRACKING (Delta PROTOCOL §Row Tracking): stable per-row
  // identifiers that survive maintenance. Every add-file carries a
  // `baseRowId` and `defaultRowCommitVersion`; a row's FRESH id is
  // baseRowId + its position in the file, and rewrites that MOVE rows
  // (compact) carry the old ids forward in hidden MATERIALIZED columns
  // (table properties delta.rowTracking.materializedRowId/
  // RowCommitVersionColumnName) which readers coalesce over the fresh
  // computation. Allocation state is the `delta.rowTracking` metadata
  // domain's rowIdHighWaterMark, bumped in the same commit that
  // consumes it.
  //
  // Scale shape: id assignment is pure METADATA work — per new FILE,
  // one footer row count the commit already reads for stats; no row is
  // ever touched. The reader computes ids from the parquet source's
  // own `_metadata.row_index` (zero storage for fresh rows) and only
  // compaction pays materialization, at maintenance time.
  //
  // Semantics scope (stated loudly, enforced loudly):
  // - DV (merge-on-read) DELETE preserves ids exactly — rows never
  //   move, and the DV re-add carries the original add node verbatim.
  // - COMPACT preserves ids by materializing them into the rewritten
  //   files (fresh baseRowIds are still assigned to the new files, as
  //   the protocol requires; the materialized values win on read).
  // - updateWhereDV / mergeDV keep working: their surviving rows keep
  //   ids (DV side), their IMAGE/source rows are NEW rows and get
  //   fresh ids — row identity is not preserved across row rewrites
  //   by these ops (the protocol's unpreserved-update mode).
  // - Copy-on-write row DML (deleteWhere/updateWhere/merge), restore,
  //   purge and cloneShallow REFUSE on row-tracked tables: each would
  //   silently re-identify rows; the DV twins + compact cover the
  //   lifecycle.
  // ======================================================================

  private[sources] val RowTrackingDomain = "delta.rowTracking"
  private[sources] val EnableRowTrackingKey = "delta.enableRowTracking"
  private[sources] val MatRowIdKey = "delta.rowTracking.materializedRowIdColumnName"
  private[sources] val MatRowCommitKey =
    "delta.rowTracking.materializedRowCommitVersionColumnName"

  private def rowTrackingEnabledConf(conf: Map[String, String]): Boolean =
    conf.get(EnableRowTrackingKey).contains("true")

  /** is the TABLE row-tracked (latest metaData configuration)? */
  private[sources] def rowTrackingEnabled(spark: SparkSession, fs: FileSystem,
      tablePath: String): Boolean =
    latestMetaNodeAny(spark, fs, tablePath)
      .exists(md => rowTrackingEnabledConf(configOf(md)))

  private def requireNoRowTracking(spark: SparkSession, fs: FileSystem,
      tablePath: String, op: String): Unit =
    require(!rowTrackingEnabled(spark, fs, tablePath),
      s"$op would silently re-identify rows of the row-tracked table " +
        s"$tablePath (row ids are not preserved through this path) — use " +
        "the deletion-vector DML twins (deleteWhereDV/updateWhereDV/mergeDV) " +
        "and compact, which preserve row identity")

  /** current rowIdHighWaterMark (-1 when unset) */
  private def rowIdHighWaterMark(spark: SparkSession, tablePath: String): Long =
    DeltaScan.domainMetadata(spark, tablePath).get(RowTrackingDomain)
      .flatMap { cfg =>
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(cfg)
        Option(node.get("rowIdHighWaterMark")).map(_.asLong())
      }.getOrElse(-1L)

  /** Enable row tracking on an existing table: ONE commit carrying the
    * writer-7 `rowTracking`+`domainMetadata` protocol upgrade, the
    * metaData re-declaration with `delta.enableRowTracking=true` + the
    * materialized column-name properties, and a BACKFILL re-add of
    * every live file with its assigned `baseRowId` (dataChange=false —
    * no rows change, streams skip it), plus the high-watermark domain.
    * Existing rows get ids in path-sorted file order. Idempotent-safe:
    * enabling an already-enabled table refuses loudly. */
  def enableRowTracking(spark: SparkSession, tablePath: String): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(tablePath))
    val md = latestMetaNodeAny(spark, fs, tablePath).getOrElse(
      throw new IllegalStateException(
        s"no metaData at $tablePath — cannot enable row tracking"))
    val conf0 = configOf(md)
    require(!rowTrackingEnabledConf(conf0),
      s"row tracking is already enabled on $tablePath")
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val newConf = conf0 ++ Map(
      EnableRowTrackingKey -> "true",
      MatRowIdKey -> s"_rowtrack_row_id_$suffix",
      MatRowCommitKey -> s"_rowtrack_commit_version_$suffix")
    val mdNode = md.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val cfgNode = mapper.createObjectNode()
    newConf.foreach { case (k, v) => cfgNode.put(k, v) }
    mdNode.set[com.fasterxml.jackson.databind.node.ObjectNode]("configuration", cfgNode)
    val metaAction = s"""{"metaData":${mdNode.toString}}"""
    val proto = latestProtoNodeAny(spark, fs, tablePath)
    val protoActions = featureProtocolAction(proto,
      Seq("rowTracking", "domainMetadata"))
    // backfill: re-add every live file (the stamp pass below assigns
    // baseRowId to any add lacking one)
    val now = System.currentTimeMillis()
    val conf = spark.sparkContext.hadoopConfiguration
    val live = replayActions(spark, fs, tablePath)
      .collect { case (p, true, _, _) => p }.sorted
    val backfill = TableCommit.parMap(live) { rel =>
      val p = new Path(root, rel)
      val size = fs.getFileStatus(p).getLen
      val stats = ParquetStats.statsJson(conf, p)
        .map(s => s""","stats":${jstr(s)}""").getOrElse("")
      s"""{"add":{"path":${jstr(encodePath(rel))},"partitionValues":{${partitionValuesJson(rel)}},"size":$size,"modificationTime":$now,"dataChange":false$stats}}"""
    }
    val v = DeltaScan.latestVersion(spark, tablePath) + 1
    // writeCommitFile stamps the backfill adds (the in-lines metaData
    // already declares the property) and appends the high-watermark
    writeCommitFile(fs, root, v,
      protoActions ++ Seq(metaAction) ++ backfill,
      operation = Some("ENABLE ROW TRACKING"))
  }

  /** Stamp `baseRowId` + `defaultRowCommitVersion` onto every add
    * action that lacks them, and append the bumped high-watermark
    * domain action — a no-op (identity) unless the table (or this very
    * commit's metaData) declares row tracking. Runs INSIDE the commit
    * write so OCC retries re-read the watermark and re-stamp from
    * fresh state. Row counts come from the add's own stats
    * (numRecords), falling back to one footer read — metadata-bounded,
    * never row-bounded. DV re-adds arrive with their original
    * baseRowId and pass through untouched (their rows never moved). */
  private def stampRowTracking(fs: FileSystem, root: Path, version: Long,
      actions: Seq[String]): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    lazy val parsed = actions.map(mapper.readTree)
    val spark = SparkSession.active
    val enabledInLines = actions.exists(_.contains(EnableRowTrackingKey)) &&
      parsed.exists(n => Option(n.get("metaData")).exists(md =>
        Option(md.get("configuration")).exists(c =>
          Option(c.get(EnableRowTrackingKey)).exists(_.asText() == "true"))))
    val enabled = enabledInLines ||
      rowTrackingEnabled(spark, fs, root.toString)
    if (!enabled) return actions
    val needsStamp = parsed.zipWithIndex.collect {
      case (n, i) if n.has("add") && !n.get("add").has("baseRowId") => i
    }
    if (needsStamp.isEmpty) return actions
    var hwm = rowIdHighWaterMark(spark, root.toString)
    val out = actions.toArray
    needsStamp.foreach { i =>
      val add = parsed(i).get("add")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val rows = Option(add.get("stats")).filterNot(_.isNull).flatMap { st =>
        Option(mapper.readTree(st.asText()).get("numRecords")).map(_.asLong())
      }.getOrElse(TableCommit.rowCount(TableCommit.readFooter(fs,
        new Path(root, decodePath(add.get("path").asText())))))
      add.put("baseRowId", hwm + 1L)
      add.put("defaultRowCommitVersion", version)
      hwm += math.max(rows, 0L)
      out(i) = s"""{"add":${add.toString}}"""
    }
    out.toSeq :+
      (s"""{"domainMetadata":{"domain":${jstr(RowTrackingDomain)},""" +
        s""""configuration":${jstr(s"""{"rowIdHighWaterMark":$hwm}""")},"removed":false}}""")
  }

  /** Read a row-tracked table WITH its stable row identity: the table
    * columns plus `_row_id` and `_row_commit_version`. A row's id is
    * its file's materialized value when present (rows a compaction
    * moved) else `baseRowId + position` (fresh rows — zero storage);
    * DV-deleted rows are dropped and never re-id'd. Loud when row
    * tracking is not enabled. Every live file must carry a baseRowId
    * ([[enableRowTracking]] backfills; a foreign un-stamped add fails
    * loudly rather than inventing identity).
    *
    * Scale shape: the id computation is the parquet source's own
    * `_metadata.row_index` plus one BROADCAST join against the
    * file-count-bounded (rel → baseRowId) map — no shuffle, no row
    * state. */
  def readWithRowIds(spark: SparkSession, tablePath: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(tablePath))
    val md = latestMetaNodeAny(spark, fs, tablePath).getOrElse(
      throw new IllegalStateException(s"no metaData at $tablePath"))
    val conf = configOf(md)
    require(rowTrackingEnabledConf(conf),
      s"row tracking is not enabled on $tablePath — enableRowTracking first")
    val (schema, partCols) = tableMeta(fs, tablePath)
    val mapped = isMapped(fs, tablePath)
    val (latestAdds, _) = replayLatestAdds(fs, root.toString)
    val outFields = schema.fieldNames.toSeq ++ Seq("_row_id", "_row_commit_version")
    if (latestAdds.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schema.fields.toSeq ++ Seq(
          StructField("_row_id", LongType), StructField("_row_commit_version", LongType))))
    val base = latestAdds.toSeq.map { case (rel, add) =>
      val b = Option(add.get("baseRowId")).filterNot(_.isNull).map(_.asLong())
        .getOrElse(throw new IllegalStateException(
          s"live file $rel of $tablePath carries no baseRowId — a foreign " +
            "writer added it without row tracking; re-run enableRowTracking's " +
            "backfill path or repair the add"))
      val cv = Option(add.get("defaultRowCommitVersion")).filterNot(_.isNull)
        .map(_.asLong()).getOrElse(-1L)
      (rel, b, cv)
    }
    val matId = conf(MatRowIdKey)
    val matCv = conf(MatRowCommitKey)
    val live = latestAdds.keys.toSeq.sorted
    val scan = liveScan(spark, root, schema, partCols, live, mapped,
      extraLongCols = Seq(matId, matCv))
    val baseDf = broadcast(spark.createDataFrame(base)
      .toDF("__rel", "__base", "__dcv"))
    val (_, dvPosDf) = dvState(spark, root.toString, latestAdds)
    scan
      .join(baseDf, Seq("__rel"))
      .join(dvPosDf, Seq("__rel", "__pos"), "left_anti")
      .withColumn("_row_id", coalesce(col(matId), col("__base") + col("__pos")))
      .withColumn("_row_commit_version", coalesce(col(matCv), col("__dcv")))
      .select(outFields.map(col): _*)
  }

  /** latest add's (baseRowId, defaultRowCommitVersion) per LIVE file —
    * the map compact's materialization joins against (file-count
    * bounded; same full-JSON-replay constraint as [[replayActions]]) */
  private[sources] def rowTrackingFileState(fs: FileSystem,
      tablePath: String): Map[String, (Long, Long)] = {
    val spark = SparkSession.active
    val logDir = new Path(fs.makeQualified(new Path(tablePath)), "_delta_log")
    val version = DeltaScan.latestVersion(spark, tablePath)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val latest = scala.collection.mutable.LinkedHashMap.empty[String, Option[(Long, Long)]]
    (0L to version).foreach { v =>
      val p = new Path(logDir, f"$v%020d.json")
      require(fs.exists(p),
        s"cannot replay row-tracking state of $tablePath: commit $p is missing")
      val in = fs.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      lines.map(mapper.readTree).foreach { node =>
        if (node.has("add")) {
          val add = node.get("add")
          val rel = decodePath(add.get("path").asText())
          latest(rel) = Option(add.get("baseRowId")).filterNot(_.isNull).map(b =>
            (b.asLong(),
              Option(add.get("defaultRowCommitVersion")).map(_.asLong()).getOrElse(v)))
        } else if (node.has("remove")) {
          latest.remove(decodePath(node.get("remove").get("path").asText()))
        }
      }
    }
    latest.collect { case (rel, Some(bc)) => rel -> bc }.toMap
  }

  /** generalization of the clustering upgrade: protocol action adding
    * arbitrary writer features (empty when already present) */
  private def featureProtocolAction(
      proto: Option[com.fasterxml.jackson.databind.node.ObjectNode],
      need: Seq[String]): Seq[String] = {
    val existingW = proto.toSeq.flatMap(p =>
      Option(p.get("writerFeatures")).toSeq.flatMap(_.elements().asScala
        .map(_.asText()).toSeq))
    if (need.forall(existingW.contains)) return Seq.empty
    val minReader = proto.map(_.get("minReaderVersion").asInt()).getOrElse(1)
    val minWriter = proto.map(_.get("minWriterVersion").asInt()).getOrElse(2)
    val readerFeats = proto.toSeq.flatMap(p =>
      Option(p.get("readerFeatures")).toSeq.flatMap(_.elements().asScala
        .map(_.asText()).toSeq))
    val legacyReader = if (minReader == 2 && readerFeats.isEmpty)
      Seq("columnMapping") else Seq.empty
    val w = (existingW ++
      (if (minWriter < 7) legacyWriterFeatures(minWriter) else Seq.empty) ++
      need).distinct.sorted
    def arr(xs: Seq[String]) = xs.map(jstr).mkString("[", ",", "]")
    val readerPart =
      if (readerFeats.nonEmpty || legacyReader.nonEmpty)
        s""""minReaderVersion":3,"readerFeatures":${arr((readerFeats ++ legacyReader).distinct.sorted)},"""
      else s""""minReaderVersion":$minReader,"""
    Seq(s"""{"protocol":{$readerPart"minWriterVersion":7,"writerFeatures":${arr(w)}}}""")
  }
}
