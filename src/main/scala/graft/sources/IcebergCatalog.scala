package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** ICEBERG REST CATALOG client (the public Apache Iceberg REST
  * Catalog OpenAPI spec) — the ecosystem's default table handoff:
  * resolve a table identifier to its current `metadata-location`
  * through `GET /v1/config` + `GET /v1/{prefix}/namespaces/{ns}/
  * tables/{name}`, then delegate the actual read to
  * [[IcebergScan.readAtMetadata]] (the catalog's metadata-location is
  * the source of truth — never the directory's version-hint).
  *
  * Transports are the same pluggable [[RestSql.Transport]] contract
  * as the warehouse clients: live HTTP in a connected deployment,
  * recorded byte transcripts in tests ([[RestSql.recordedTransport]])
  * — the gate and the loopback live-contract spec exercise the same
  * client code path byte-for-byte.
  *
  * Scale note: the catalog interaction is O(1) metadata requests per
  * table load; all data-plane work (manifest walk, delete
  * application, pruned parquet scans) happens in [[IcebergScan]]
  * against the table's storage directly. */
object IcebergCatalog {

  final case class Connection(
      uri: String,
      token: Option[String] = None,
      warehouse: Option[String] = None,
      transport: RestSql.Transport = RestSql.LiveTransport)

  /** LoadTableResult essentials */
  final case class Loaded(metadataLocation: String, config: Map[String, String])

  private val mapper = new ObjectMapper()

  private def headers(conn: Connection): Map[String, String] =
    Map("Accept" -> "application/json") ++
      conn.token.map(t => "Authorization" -> s"Bearer $t")

  private def urlEncode(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  /** multi-level namespaces join with the %1F unit separator in URL
    * paths, per the REST spec */
  private def nsPath(levels: Seq[String]): String =
    levels.map(urlEncode).mkString("%1F")

  /** `GET /v1/config` — the prefix the server wants in every later
    * path (overrides win over defaults, per spec) */
  def configPrefix(conn: Connection): Option[String] = {
    val q = conn.warehouse.map(w => s"?warehouse=${urlEncode(w)}").getOrElse("")
    val r = conn.transport.request("GET", s"${conn.uri.stripSuffix("/")}/v1/config$q",
      headers(conn), scala.None)
    require(r.status == 200,
      s"catalog config failed: HTTP ${r.status}: ${r.text.take(500)}")
    val node = mapper.readTree(r.body)
    def prop(section: String): Option[String] =
      Option(node.get(section)).flatMap(s => Option(s.get("prefix")))
        .map(_.asText()).filter(_.nonEmpty)
    prop("overrides").orElse(prop("defaults"))
  }

  /** `GET /v1/{prefix}/namespaces/{ns}/tables/{name}` →
    * LoadTableResult. `table` is `ns[.ns2…].name`. */
  def loadTable(conn: Connection, table: String): Loaded = {
    val parts = table.split('.').toSeq
    require(parts.size >= 2,
      s"table identifier '$table' needs at least namespace.name")
    val prefix = configPrefix(conn).map(p => s"${p.stripSuffix("/")}/").getOrElse("")
    val url = s"${conn.uri.stripSuffix("/")}/v1/$prefix" +
      s"namespaces/${nsPath(parts.dropRight(1))}/tables/${urlEncode(parts.last)}"
    val r = conn.transport.request("GET", url, headers(conn), scala.None)
    require(r.status == 200,
      s"loadTable($table) failed: HTTP ${r.status}: ${r.text.take(500)}")
    val node = mapper.readTree(r.body)
    val loc = Option(node.get("metadata-location")).map(_.asText())
      .filter(_.nonEmpty).getOrElse(throw new IllegalStateException(
        s"LoadTableResult for '$table' carries no metadata-location " +
          "(staged-create results are not readable)"))
    val cfg = Option(node.get("config")).map { c =>
      val it = c.properties().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
      b.result()
    }.getOrElse(Map.empty)
    Loaded(loc, cfg)
  }

  /** resolve through the catalog, read through [[IcebergScan]] */
  def read(spark: SparkSession, conn: Connection, table: String): DataFrame =
    IcebergScan.readAtMetadata(spark, loadTable(conn, table).metadataLocation)

  /** REGISTER an existing (client-written) table with the catalog —
    * `POST /v1/{prefix}/namespaces/{ns}/register` with the spec's
    * RegisterTableRequest `{name, metadata-location}`. The natural
    * entry into the catalog lifecycle for tables this library already
    * writes path-addressed: create locally ([[IcebergWrite.create]]),
    * register the resulting metadata file, then read/commit through
    * the catalog. Returns the LoadTableResult's metadata-location
    * (servers may rewrite it). */
  def registerTable(conn: Connection, namespace: Seq[String], name: String,
      metadataLocation: String): String = {
    require(namespace.nonEmpty, "register needs a namespace")
    val req = mapper.createObjectNode()
    req.put("name", name)
    req.put("metadata-location", metadataLocation)
    val prefix = configPrefix(conn).map(p => s"${p.stripSuffix("/")}/").getOrElse("")
    val url = s"${conn.uri.stripSuffix("/")}/v1/$prefix" +
      s"namespaces/${nsPath(namespace)}/register"
    val r = conn.transport.request("POST", url,
      headers(conn) + ("Content-Type" -> "application/json"),
      Some(mapper.writeValueAsString(req).getBytes("UTF-8")))
    r.status match {
      case 200 =>
        val node = mapper.readTree(r.body)
        Option(node.get("metadata-location")).map(_.asText())
          .filter(_.nonEmpty).getOrElse(metadataLocation)
      case 409 => throw new IllegalStateException(
        s"register(${namespace.mkString(".")}.$name) conflicts: a table " +
          s"with that identifier already exists (409): ${r.text.take(300)}")
      case s => throw new IllegalStateException(
        s"register(${namespace.mkString(".")}.$name) failed: HTTP $s: " +
          r.text.take(300))
    }
  }

  // ---------------------------------------------------------------------
  // commit path — the CommitTableRequest flow of the public REST spec
  // ---------------------------------------------------------------------

  /** what one catalog commit sent and got back, for callers that audit
    * the wire exchange (specs assert the requirement/update shapes) */
  final case class CommitResult(
      newMetadataLocation: String, newSnapshotId: Long, requestJson: String)

  /** COMMIT an append through the catalog: `POST /v1/{prefix}/
    * namespaces/{ns}/tables/{name}` with a CommitTableRequest whose
    * `requirements` pin the base state (`assert-table-uuid`,
    * `assert-ref-snapshot-id` on `main` — null snapshot-id for an
    * empty base, per spec) and whose `updates` carry the new snapshot
    * (`add-snapshot`) and re-point `main` (`set-snapshot-ref`). The
    * DATA plane stays client-side exactly as the spec intends: data
    * files, manifests, the manifest list and the staged metadata are
    * written to the table's storage by [[IcebergWrite.append]]'s
    * ordinary commit machinery (OCC-retried against directory races);
    * only the POINTER advance is the catalog's. A `409 Conflict`
    * means the catalog saw a concurrent commit — surfaced as
    * [[java.util.ConcurrentModificationException]], the same contract
    * as the directory CAS, and the staged snapshot is left for the
    * caller to retry against the rebased head. A TORN commit (append
    * staged, POST lost) leaves the directory ahead of the catalog;
    * [[publishDirectoryHead]] is the recovery.
    *
    * The flow requires the catalog head and the directory head to
    * AGREE before staging (else the append would chain from a
    * different snapshot than the requirement asserts) — verified
    * loudly up front.
    *
    * Scale note: O(1) catalog requests per commit regardless of data
    * volume; the physical write is the ordinary distributed append. */
  def commitAppend(spark: SparkSession, conn: Connection, table: String,
      df: DataFrame): CommitResult = {
    val parts = table.split('.').toSeq
    require(parts.size >= 2,
      s"table identifier '$table' needs at least namespace.name")
    val loaded = loadTable(conn, table)
    val conf = spark.sessionState.newHadoopConf()
    val metaP = new org.apache.hadoop.fs.Path(loaded.metadataLocation)
    val fs = metaP.getFileSystem(conf)
    val baseMeta = mapper.readTree(IcebergScan.readUtf8(fs, metaP))
    val root = Option(baseMeta.get("location")).map(_.asText())
      .filter(_.nonEmpty)
      .getOrElse(metaP.getParent.getParent.toString)
    val baseSnap = Option(baseMeta.get("current-snapshot-id"))
      .map(_.asLong()).filter(_ != -1L)
    val uuid = Option(baseMeta.get("table-uuid")).map(_.asText())

    // catalog head and directory head must agree before staging
    val hint = new org.apache.hadoop.fs.Path(root, "metadata/version-hint.text")
    require(fs.exists(hint),
      s"table storage at $root has no version hint — the commit path " +
        "stages through the directory head and cannot chain blindly")
    val dirV = IcebergScan.readUtf8(fs, hint).trim.toInt
    val dirMeta = mapper.readTree(IcebergScan.readUtf8(fs,
      new org.apache.hadoop.fs.Path(root, s"metadata/v$dirV.metadata.json")))
    val dirSnap = Option(dirMeta.get("current-snapshot-id"))
      .map(_.asLong()).filter(_ != -1L)
    require(dirSnap == baseSnap,
      s"catalog head ($baseSnap) and directory head ($dirSnap) disagree " +
        s"at $root — refresh the catalog before committing")

    // stage: the ordinary append (data files + manifests + list +
    // staged metadata, OCC-retried against directory races)
    IcebergWrite.append(spark, df, root)
    val newV = IcebergScan.readUtf8(fs, hint).trim.toInt
    val newMetaPath = s"$root/metadata/v$newV.metadata.json"
    postPointerAdvance(conn, table, parts, fs, uuid, baseSnap, newMetaPath)
  }

  /** RECOVERY for a torn commit: the staged append landed in table
    * storage (the directory CAS won) but the catalog POST never
    * succeeded, so [[commitAppend]] now refuses with "heads disagree".
    * This publishes the directory head to the catalog without writing
    * any data: requirements still pin the catalog's CURRENT main (a
    * concurrent adoption 409s), the update adds the directory head's
    * snapshot and re-points main at it. The staged metadata carries
    * the full snapshot history (client-written model), so intermediate
    * snapshots stay time-travelable. */
  def publishDirectoryHead(spark: SparkSession, conn: Connection,
      table: String): CommitResult = {
    val parts = table.split('.').toSeq
    require(parts.size >= 2,
      s"table identifier '$table' needs at least namespace.name")
    val loaded = loadTable(conn, table)
    val conf = spark.sessionState.newHadoopConf()
    val metaP = new org.apache.hadoop.fs.Path(loaded.metadataLocation)
    val fs = metaP.getFileSystem(conf)
    val baseMeta = mapper.readTree(IcebergScan.readUtf8(fs, metaP))
    val root = Option(baseMeta.get("location")).map(_.asText())
      .filter(_.nonEmpty)
      .getOrElse(metaP.getParent.getParent.toString)
    val baseSnap = Option(baseMeta.get("current-snapshot-id"))
      .map(_.asLong()).filter(_ != -1L)
    val uuid = Option(baseMeta.get("table-uuid")).map(_.asText())
    val hint = new org.apache.hadoop.fs.Path(root, "metadata/version-hint.text")
    require(fs.exists(hint), s"no version hint at $root — nothing staged")
    val dirV = IcebergScan.readUtf8(fs, hint).trim.toInt
    val dirMetaPath = s"$root/metadata/v$dirV.metadata.json"
    val dirSnap = Option(mapper.readTree(IcebergScan.readUtf8(fs,
        new org.apache.hadoop.fs.Path(dirMetaPath)))
      .get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L)
    require(dirSnap != baseSnap,
      s"catalog and directory agree at $baseSnap — nothing to publish")
    postPointerAdvance(conn, table, parts, fs, uuid, baseSnap, dirMetaPath)
  }

  /** shared tail of [[commitAppend]]/[[publishDirectoryHead]]: build
    * the CommitTableRequest for "advance main from `baseSnap` to the
    * head of `newMetaPath`" and POST it */
  private def postPointerAdvance(conn: Connection, table: String,
      parts: Seq[String], fs: org.apache.hadoop.fs.FileSystem,
      uuid: Option[String], baseSnap: Option[Long],
      newMetaPath: String): CommitResult = {
    val newMeta = mapper.readTree(IcebergScan.readUtf8(fs,
      new org.apache.hadoop.fs.Path(newMetaPath)))
    val newSnapId = newMeta.get("current-snapshot-id").asLong()
    val snapNode = {
      val it = newMeta.get("snapshots").elements()
      var found: com.fasterxml.jackson.databind.JsonNode = null
      while (it.hasNext && found == null) {
        val s = it.next()
        if (s.get("snapshot-id").asLong() == newSnapId) found = s
      }
      require(found != null,
        s"staged metadata $newMetaPath lacks its own current snapshot")
      found
    }

    // CommitTableRequest per the REST spec's OpenAPI shapes
    val req = mapper.createObjectNode()
    val ident = req.putObject("identifier")
    val nsArr = ident.putArray("namespace")
    parts.dropRight(1).foreach(nsArr.add)
    ident.put("name", parts.last)
    val reqs = req.putArray("requirements")
    uuid.foreach { u =>
      val r = reqs.addObject()
      r.put("type", "assert-table-uuid"); r.put("uuid", u)
    }
    val refReq = reqs.addObject()
    refReq.put("type", "assert-ref-snapshot-id")
    refReq.put("ref", "main")
    baseSnap match {
      case Some(id) => refReq.put("snapshot-id", id)
      case scala.None => refReq.putNull("snapshot-id")
    }
    val updates = req.putArray("updates")
    val addSnap = updates.addObject()
    addSnap.put("action", "add-snapshot")
    addSnap.set[com.fasterxml.jackson.databind.node.ObjectNode](
      "snapshot", snapNode.deepCopy())
    val setRef = updates.addObject()
    setRef.put("action", "set-snapshot-ref")
    setRef.put("ref-name", "main")
    setRef.put("type", "branch")
    setRef.put("snapshot-id", newSnapId)
    val body = mapper.writeValueAsString(req)

    val prefix = configPrefix(conn).map(p => s"${p.stripSuffix("/")}/").getOrElse("")
    val url = s"${conn.uri.stripSuffix("/")}/v1/$prefix" +
      s"namespaces/${nsPath(parts.dropRight(1))}/tables/${urlEncode(parts.last)}"
    val resp = conn.transport.request("POST", url,
      headers(conn) + ("Content-Type" -> "application/json"),
      Some(body.getBytes("UTF-8")))
    resp.status match {
      case 200 =>
        val node = mapper.readTree(resp.body)
        val loc = Option(node.get("metadata-location")).map(_.asText())
          .filter(_.nonEmpty).getOrElse(newMetaPath)
        CommitResult(loc, newSnapId, body)
      case 409 =>
        throw new java.util.ConcurrentModificationException(
          s"catalog rejected the commit for '$table' (409): a concurrent " +
            s"writer advanced main past $baseSnap — reload and retry; " +
            s"response: ${resp.text.take(500)}")
      case s =>
        throw new IllegalStateException(
          s"commitTable($table) failed: HTTP $s: ${resp.text.take(500)}")
    }
  }
}
