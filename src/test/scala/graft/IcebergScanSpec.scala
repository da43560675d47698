package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.IcebergScan

/** Built-in Iceberg reader against hand-fabricated tables: metadata
  * JSON + Avro manifests written straight from the public spec, so the
  * replay/selection semantics are what's under test. */
class IcebergScanSpec extends SparkSpec {

  /** delete staging dirs carry an OCC nonce (deletes-vN-<nonce>) —
    * resolve by prefix */
  private def deleteDir(tableDir: String, prefix: String): java.io.File =
    new java.io.File(s"$tableDir/data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(prefix)) match {
      case Array(one) => one
      case other => fail(s"expected one $prefix* dir, got ${other.mkString(", ")}")
    }

  test("IcebergWrite round-trip: create + append read back by the built-in reader") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_rt").toString
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b = Seq((3L, "z")).toDF("id", "v")
    IcebergWrite.create(spark, a, dir)
    IcebergWrite.append(spark, b, dir)
    val all = IcebergScan.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(all == Set((1L, "x"), (2L, "y"), (3L, "z")))
    // snapshot time travel back to the create commit
    val v1 = IcebergScan.read(spark, dir, snapshotAsOf = Some(1L))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(v1 == Set(1L, 2L))
    // schema carries nullability + types through the spec JSON
    assert(IcebergScan.read(spark, dir).schema.fieldNames.toSeq == Seq("id", "v"))
    // double create is loud; nested types are loud
    assert(intercept[IllegalArgumentException] {
      IcebergWrite.create(spark, a, dir)
    }.getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException] {
      IcebergWrite.create(spark,
        a.select(org.apache.spark.sql.functions.struct(col("id")).as("s")),
        java.nio.file.Files.createTempDirectory("graft_ice_bad").toString)
    }.getMessage.contains("primitive"))
    // schema-drift appends are loud, not silent corruption
    assert(intercept[IllegalArgumentException] {
      IcebergWrite.append(spark, Seq((9, "w")).toDF("id", "v"), dir)
    }.getMessage.contains("schema"))
  }

  test("deleteWhere: position-delete round trip — rows gone, time travel intact, appends still work") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_del").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "keep"), (2L, "kill"), (3L, "keep")).toDF("id", "v"), dir)
    IcebergWrite.append(spark, Seq((4L, "kill"), (5L, "keep")).toDF("id", "v"), dir)

    val n = IcebergWrite.deleteWhere(spark, dir, col("v") === "kill")
    assert(n == 2L)
    val after = IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(after == Seq((1L, "keep"), (3L, "keep"), (5L, "keep")))
    // time travel to the pre-delete snapshot still sees everything
    assert(IcebergScan.read(spark, dir, snapshotAsOf = Some(2L)).count() == 5L)

    // metadata upgraded to v2 and later appends keep it + keep deletes applied
    IcebergWrite.append(spark, Seq((6L, "kill")).toDF("id", "v"), dir)
    val after2 = IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(after2 == Seq((1L, "keep"), (3L, "keep"), (5L, "keep"), (6L, "kill")),
      "post-delete append must not resurrect deleted rows or lose new ones")
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/metadata/v4.metadata.json")), "UTF-8")
    assert(meta.contains("\"format-version\":2") &&
      meta.contains("\"last-sequence-number\""))

    // a second delete composes (its manifest seq rides the carry-forward)
    assert(IcebergWrite.deleteWhere(spark, dir, col("id") === 6L) == 1L)
    assert(IcebergScan.read(spark, dir).count() == 3L)

    // no-match delete commits nothing
    val hintBefore = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/metadata/version-hint.text")), "UTF-8").trim
    assert(IcebergWrite.deleteWhere(spark, dir, col("id") === 999L) == 0L)
    val hintAfter = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/metadata/version-hint.text")), "UTF-8").trim
    assert(hintBefore == hintAfter, "empty delete must not commit a version")

    // loud on a missing table
    val e = intercept[IllegalArgumentException] {
      IcebergWrite.deleteWhere(spark, dir + "_nope", col("id") === 1L)
    }
    assert(e.getMessage.contains("no Iceberg table"))
  }

  test("multi-file victim sets fan position/equality deletes across tasks (no single-task funnel)") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_multidel").toString + "/t"
    // 6 data files on an UNPARTITIONED table, victims in every one
    IcebergWrite.create(spark, (0L until 20L).map(i => (i, i % 2 == 0)).toDF("id", "kill"), dir)
    (1 to 5).foreach { k =>
      IcebergWrite.append(spark,
        (k * 100L until k * 100L + 20L).map(i => (i, i % 2 == 0)).toDF("id", "kill"), dir)
    }
    // AQE's small-set coalescing is the single-file path; switch it off so
    // the write exercises the scale shape (one delete file per hash-group)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val n = IcebergWrite.deleteWhere(spark, dir, col("kill") === true)
      assert(n == 60L)
      val posDelDir = deleteDir(dir, "deletes-v7")
      val posDelFiles = posDelDir.listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSeq
      assert(posDelFiles.size > 1,
        s"6 victim files must fan out to >1 position-delete file, got $posDelFiles")
      // every delete file individually sorted by (file_path, pos) — spec
      posDelFiles.foreach { f =>
        val rows = spark.read.parquet(s"$posDelDir/$f")
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(rows == rows.sortBy(identity), s"delete file $f must be sorted")
      }
      assert(IcebergScan.read(spark, dir).collect().map(_.getLong(0)).forall(_ % 2 == 1L))
      assert(IcebergScan.read(spark, dir).count() == 60L)

      // equality delete with a wide key set also fans out, still applies
      val m = IcebergWrite.deleteEqual(spark, dir,
        (0L until 1000L).filter(_ % 4 == 1).toDF("id"))
      assert(m == 250L)
      val eqDelFiles = deleteDir(dir, "eqdeletes-v8").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSeq
      assert(eqDelFiles.size > 1,
        s"250-key equality delete must fan out to >1 delete file, got $eqDelFiles")
      val left = IcebergScan.read(spark, dir).collect().map(_.getLong(0)).toSet
      assert(left.forall(i => i % 2 == 1L && i % 4 != 1L), s"wrong survivors: $left")
      assert(left.size == 30, s"expected 30 survivors, got ${left.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // with AQE back on, a small follow-up delete coalesces and still reads
    assert(IcebergWrite.deleteWhere(spark, dir, col("id") === 103L) == 1L)
    assert(IcebergScan.read(spark, dir).count() == 29L)
  }

  test("OCC: appends reuse staged data on a lost CAS; deletes commute with appends, abort on rewrites") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def racing(body: => Unit)(op: => Unit): Unit = {
      IcebergWrite.beforeCommit = () => { IcebergWrite.beforeCommit = () => (); body }
      try op finally IcebergWrite.beforeCommit = () => ()
    }

    // 1) append racing append: the loser re-assembles metadata at the next
    //    version WITHOUT rewriting its data files — both appends land once
    val d1 = java.nio.file.Files.createTempDirectory("graft_ice_occ1").toString + "/t"
    IcebergWrite.create(spark, Seq((0L, "seed")).toDF("id", "v"), d1)
    val preData = java.nio.file.Files.list(java.nio.file.Paths.get(s"$d1/data"))
      .iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    racing(IcebergWrite.append(spark, Seq((1L, "winner")).toDF("id", "v"), d1)) {
      IcebergWrite.append(spark, Seq((2L, "loser")).toDF("id", "v"), d1)
    }
    assert(IcebergScan.read(spark, d1).collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L))
    val postData = java.nio.file.Files.list(java.nio.file.Paths.get(s"$d1/data"))
      .iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    // winner's files + loser's ORIGINAL files — no rewrite on retry
    assert(postData == preData + 2, s"expected ${preData + 2} data files, got $postData")
    // history is linear: three committed versions + create
    assert(IcebergScan.snapshots(spark, d1).count() == 3L)

    // 2) position delete racing a disjoint append commutes: the staged
    //    delete files are reused, the appended rows survive
    val d2 = java.nio.file.Files.createTempDirectory("graft_ice_occ2").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "kill"), (2L, "keep")).toDF("id", "v"), d2)
    racing(IcebergWrite.append(spark, Seq((3L, "kill")).toDF("id", "v"), d2)) {
      assert(IcebergWrite.deleteWhere(spark, d2, col("v") === "kill") == 1L,
        "the delete kills only the rows its plan saw")
    }
    assert(IcebergScan.read(spark, d2).collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L), "appended row must survive a delete planned before it")

    // 3) position delete racing a COMPACT aborts loudly: the rewritten
    //    copies would resurrect the deleted rows
    val d3 = java.nio.file.Files.createTempDirectory("graft_ice_occ3").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "kill")).toDF("id", "v"), d3)
    IcebergWrite.append(spark, Seq((2L, "keep")).toDF("id", "v"), d3)
    val e3 = intercept[java.util.ConcurrentModificationException] {
      racing { IcebergWrite.compact(spark, d3, smallFileBytes = 1L << 30) } {
        IcebergWrite.deleteWhere(spark, d3, col("v") === "kill")
      }
    }
    assert(e3.getMessage.contains("removed/rewrote"), s"wrong reason: $e3")
    assert(IcebergScan.read(spark, d3).count() == 2L, "aborted delete changed nothing")

    // 4) equality delete racing an append commutes AND kills the appended
    //    matching key too (read-time semantics: delete.seq > data.seq)
    val d4 = java.nio.file.Files.createTempDirectory("graft_ice_occ4").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), d4)
    racing(IcebergWrite.append(spark, Seq((1L, "late"), (9L, "z")).toDF("id", "v"), d4)) {
      assert(IcebergWrite.deleteEqual(spark, d4, Seq(1L).toDF("id")) == 1L)
    }
    assert(IcebergScan.read(spark, d4).collect().map(_.getLong(0)).toSet ==
      Set(2L, 9L), "both id=1 rows (original AND raced-in) must die")

    // 5) retryOnConflict re-executes a CoW update that lost its race
    val d5 = java.nio.file.Files.createTempDirectory("graft_ice_occ5").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, 10L), (2L, 20L)).toDF("id", "score"), d5)
    var n5 = -1L
    racing(IcebergWrite.append(spark, Seq((3L, 30L)).toDF("id", "score"), d5)) {
      n5 = IcebergWrite.retryOnConflict() {
        IcebergWrite.updateWhere(spark, d5, col("id") === 1L,
          Seq("score" -> org.apache.spark.sql.functions.lit(99L)))
      }
    }
    assert(n5 == 1L)
    assert(IcebergScan.read(spark, d5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 99L), (2L, 20L), (3L, 30L)),
      "re-executed update lands on the post-race state with the append intact")

    // 6) append racing a schema change re-runs and fails LOUDLY on the
    //    real mismatch (never a silent wrong-schema commit)
    val d6 = java.nio.file.Files.createTempDirectory("graft_ice_occ6").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "a")).toDF("id", "v"), d6)
    intercept[Exception] {
      racing(IcebergWrite.appendEvolve(spark,
          Seq((5L, "e", 1.5)).toDF("id", "v", "w"), d6)) {
        IcebergWrite.appendWithRetry(spark, Seq((2L, "b")).toDF("id", "v"), d6)
      }
    }
  }

  test("merge-on-read DML: delta commits instead of rewrites; compact folds the deltas away") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.{col, concat, lit}
    import spark.implicits._
    def dataFiles(dir: String): Set[String] =
      IcebergScan.files(spark, dir).filter(col("content") === "data")
        .collect().map(_.getString(0)).toSet
    def contents(dir: String): Set[String] =
      IcebergScan.files(spark, dir).collect().map(_.getString(1)).toSet

    // ---- MOR UPDATE: position deletes + new images, originals untouched
    val d = java.nio.file.Files.createTempDirectory("graft_ice_mor_u").toString + "/t"
    IcebergWrite.create(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2), d)
    IcebergWrite.setProperties(spark, d, Map("write.update.mode" -> "merge-on-read"))
    val before = dataFiles(d)
    val n = IcebergWrite.updateWhere(spark, d, col("id") % 2 === 0,
      Seq("v" -> concat(lit("U:"), col("v"))))
    assert(n == 5L)
    val after = dataFiles(d)
    assert(before.subsetOf(after) && after.size > before.size,
      "MOR update must keep every original data file live and only add images")
    assert(contents(d).contains("position-deletes"),
      "MOR update must commit position-delete files")
    val got = IcebergScan.read(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == (1L to 10L).map(i =>
      i -> (if (i % 2 == 0) s"U:v$i" else s"v$i")).toMap)

    // deltas STACK: a second MOR update hits an already-updated row
    // (its image lives in a NEW file the first delete never named)
    assert(IcebergWrite.updateWhere(spark, d, col("id") === 2L,
      Seq("v" -> lit("final"))) == 1L)
    assert(IcebergScan.read(spark, d).filter(col("id") === 2L)
      .head().getString(1) == "final")
    // time travel to the pre-update snapshot sees the originals
    assert(IcebergScan.read(spark, d, snapshotAsOf = Some(1L))
      .filter(col("v").startsWith("U:")).count() == 0L)

    // ---- compact FOLDS the deltas: full rewrite drops every delete manifest
    val (picked, _) = IcebergWrite.compact(spark, d, smallFileBytes = 1L << 30)
    assert(picked > 0)
    assert(contents(d) == Set("data"),
      s"full compaction must fold delete manifests away, still have ${contents(d)}")
    val got2 = IcebergScan.read(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got2(2L) == "final" && got2(4L) == "U:v4" && got2(3L) == "v3")
    assert(got2.size == 10)

    // ---- MOR MERGE: equality-delete upsert, no table rewrite
    val m = java.nio.file.Files.createTempDirectory("graft_ice_mor_m").toString + "/t"
    val seed: Seq[(java.lang.Long, String)] =
      Seq((1L: java.lang.Long, "a"), (2L: java.lang.Long, "b"),
        (3L: java.lang.Long, "c"), (null, "nullkey-keep"))
    IcebergWrite.create(spark, seed.toDF("id", "v"), m)
    IcebergWrite.setProperties(spark, m, Map("write.merge.mode" -> "merge-on-read"))
    val beforeM = dataFiles(m)
    val src: Seq[(java.lang.Long, String)] =
      Seq((2L: java.lang.Long, "B!"), (9L: java.lang.Long, "new"),
        (null, "nullkey-insert"))
    val (upd, ins) = IcebergWrite.merge(spark, m, src.toDF("id", "v"), Seq("id"))
    assert(upd == 1L && ins == 2L, s"got ($upd, $ins)")
    assert(beforeM.subsetOf(dataFiles(m)),
      "MOR merge must not rewrite any data file")
    assert(contents(m).contains("equality-deletes"),
      "MOR merge must commit equality-delete files")
    val gotM = IcebergScan.read(spark, m).collect()
      .map(r => (Option(r.get(0)).map(_.toString).getOrElse("null"), r.getString(1)))
      .toSet
    assert(gotM == Set("1" -> "a", "2" -> "B!", "3" -> "c", "9" -> "new",
      "null" -> "nullkey-keep", "null" -> "nullkey-insert").map(identity),
      s"wrong merge result: $gotM")
    // both NULL-key rows live: NULL keys never match, never delete
    assert(gotM.count(_._1 == "null") == 2)

    // a FOLLOW-UP append with a merged key survives (eq delete is
    // strictly-older-files only)
    IcebergWrite.append(spark,
      Seq((2L: java.lang.Long, "later")).toDF("id", "v"), m)
    assert(IcebergScan.read(spark, m).filter(col("id") === 2L).count() == 2L)

    // ---- PARTITIONED MOR update: partition-scoped deletes, migrating image
    val p = java.nio.file.Files.createTempDirectory("graft_ice_mor_p").toString + "/t"
    IcebergWrite.create(spark,
      Seq((1L, "en", "t1"), (2L, "en", "t2"), (3L, "de", "t3"))
        .toDF("id", "lang", "text"), p, partitionBy = Seq("lang"))
    IcebergWrite.setProperties(spark, p, Map("write.update.mode" -> "merge-on-read"))
    assert(IcebergWrite.updateWhere(spark, p, col("id") === 2L,
      Seq("lang" -> lit("fr"))) == 1L)
    val gotP = IcebergScan.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(gotP == Map(1L -> "en", 2L -> "fr", 3L -> "de"))
    // the migrated row is found by a partition-PRUNED read of its NEW home
    assert(IcebergScan.read(spark, p,
      skippingFilter = Some(col("lang") === "fr")).count() == 1L)
    assert(IcebergScan.read(spark, p,
      skippingFilter = Some(col("lang") === "en"))
      .collect().map(_.getLong(0)).toSet == Set(1L))

    // partitioned MOR MERGE: the equality delete is GLOBAL (spec-id 1,
    // crossing partitions), the appended source lands hive-partitioned —
    // a merge that moves a key across partitions just works
    IcebergWrite.setProperties(spark, p, Map("write.merge.mode" -> "merge-on-read"))
    val (um, im) = IcebergWrite.merge(spark, p,
      Seq((1L, "de", "moved"), (9L, "it", "new")).toDF("id", "lang", "text"),
      Seq("id"))
    assert(um == 1L && im == 1L, s"got ($um, $im)")
    val gotM2 = IcebergScan.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(gotM2 == Map(1L -> "de", 2L -> "fr", 3L -> "de", 9L -> "it"))
    // pruned read of the target partition finds the migrated + new rows
    assert(IcebergScan.read(spark, p,
      skippingFilter = Some(col("lang") === "de"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(IcebergScan.read(spark, p,
      skippingFilter = Some(col("lang") === "en")).count() == 0L)
    // compaction folds the global delete away on the partitioned table too
    IcebergWrite.compact(spark, p, smallFileBytes = 1L << 30)
    assert(contents(p) == Set("data"))
    assert(IcebergScan.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap == gotM2)
  }

  test("removeOrphanFiles: crashed-write leftovers reclaimed, live files never, dry-run default, age guard") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_orphan").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), dir)

    // a REAL crashed write: the commit hook throws after the data files
    // are staged — the append fails, its parquet stays unreferenced
    IcebergWrite.beforeCommit = () => {
      IcebergWrite.beforeCommit = () => ()
      throw new RuntimeException("simulated crash between staging and commit")
    }
    intercept[RuntimeException] {
      IcebergWrite.append(spark, Seq((99L, "crash")).toDF("id", "v"), dir)
    }
    IcebergWrite.beforeCommit = () => ()
    // plus a stray manifest-looking avro (a lost OCC assembly attempt)
    val strayAvro = java.nio.file.Paths.get(dir, "metadata", "manifest-9-deadbeef.avro")
    java.nio.file.Files.write(strayAvro, Array[Byte](1, 2, 3))
    // plus a writer that crashed mid-write long ago: its private staging
    // dir is no orphan candidate, but the delete-mode sweep reclaims it
    val staleStaging = java.nio.file.Paths.get(dir, ".staging-deadbeef0000")
    java.nio.file.Files.createDirectories(staleStaging)
    java.nio.file.Files.write(staleStaging.resolve("part-0.parquet"), Array[Byte](1))
    assert(staleStaging.toFile.setLastModified(1000L))

    // fresh files are protected by the age guard (in-flight writers)
    assert(IcebergWrite.removeOrphanFiles(spark, dir).isEmpty,
      "files younger than olderThanMs must never be candidates")

    // with the guard at 0 the dry run names exactly the orphans ...
    val listed = IcebergWrite.removeOrphanFiles(spark, dir, olderThanMs = 0L)
    assert(listed.size == 2 && listed.exists(_.endsWith(".avro")) &&
      listed.count(_.endsWith(".parquet")) == 1, s"wrong orphan set: $listed")
    // ... and deletes nothing (dry-run default)
    assert(java.nio.file.Files.exists(strayAvro))
    assert(java.nio.file.Files.exists(staleStaging))

    // delete mode reclaims them; the table reads unchanged
    val deleted = IcebergWrite.removeOrphanFiles(spark, dir,
      olderThanMs = 0L, dryRun = false)
    assert(deleted.toSet == listed.toSet)
    assert(!java.nio.file.Files.exists(strayAvro))
    assert(!java.nio.file.Files.exists(staleStaging))
    assert(IcebergScan.read(spark, dir).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    // idempotent: a second sweep finds nothing
    assert(IcebergWrite.removeOrphanFiles(spark, dir, olderThanMs = 0L).isEmpty)

    // every snapshot's footprint is protected: after a delete commit
    // (delete files) and a compact (old files still pinned by history),
    // a sweep still leaves time travel working
    IcebergWrite.deleteWhere(spark, dir, org.apache.spark.sql.functions.col("id") === 2L)
    IcebergWrite.compact(spark, dir, smallFileBytes = 1L << 30)
    assert(IcebergWrite.removeOrphanFiles(spark, dir, olderThanMs = 0L).isEmpty,
      "history-pinned files must never list as orphans")
    assert(IcebergScan.read(spark, dir, snapshotAsOf = Some(2L)).count() == 3L)
  }

  test("partition transforms: spec bucket-hash vectors; day/bucket/truncate round-trip with source-column pruning") {
    import graft.sources.{IcebergScan, IcebergTransforms, IcebergWrite}
    import org.apache.spark.sql.functions.{col, lit, to_date, to_timestamp}
    import spark.implicits._

    // ---- the PUBLIC spec's hash test vectors (Iceberg spec, Appendix B)
    assert(IcebergTransforms.hashLong(34L) == 2017239379, "hashLong(34)")
    assert(IcebergTransforms.hashString("iceberg") == 1210000089, "hashString")
    assert(IcebergTransforms.hashLong(
      java.time.LocalDate.of(2017, 11, 16).toEpochDay) == -653330422, "hashDate")
    assert(IcebergTransforms.hashLong(
      java.time.LocalDateTime.of(2017, 11, 16, 22, 31, 8)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L) == -2047944441,
      "hashTimestampMicros")

    // ---- source-bounds unit vectors for the transforms the e2e table
    // below does not exercise (year/hour/truncate-int/prefix bump)
    {
      import org.apache.spark.sql.types._
      def pf(t: String, p: Int, dt: DataType) =
        IcebergTransforms.PartField("x", t, p, StructField("s", dt))
      // year 52 = 2022: micros range over the whole year
      assert(IcebergTransforms.sourceBounds(pf("year", 0, TimestampType),
        java.lang.Integer.valueOf(52)).contains(
        (java.time.LocalDate.of(2022, 1, 1).toEpochDay * 86400000000L,
          java.time.LocalDate.of(2023, 1, 1).toEpochDay * 86400000000L - 1)))
      // year on a DATE source: epoch-day range
      assert(IcebergTransforms.sourceBounds(pf("year", 0, DateType),
        java.lang.Integer.valueOf(52)).contains(
        (java.time.LocalDate.of(2022, 1, 1).toEpochDay.toInt,
          java.time.LocalDate.of(2023, 1, 1).toEpochDay.toInt - 1)))
      // hour 17 = micros [17h, 18h)
      assert(IcebergTransforms.sourceBounds(pf("hour", 0, TimestampType),
        java.lang.Integer.valueOf(17)).contains(
        (17L * 3600000000L, 18L * 3600000000L - 1)))
      // truncate(10) over ints: value 120 covers [120, 129]
      assert(IcebergTransforms.sourceBounds(pf("truncate", 10, IntegerType),
        java.lang.Integer.valueOf(120)).contains((120, 129)))
      // truncate prefix bump: "ab" < everything-with-prefix < "ac";
      // an all-max-codepoint prefix keeps only the lower bound
      assert(IcebergTransforms.bumpPrefix("ab").contains("ac"))
      assert(IcebergTransforms.bumpPrefix("􏿿").isEmpty) // U+10FFFF
      assert(IcebergTransforms.sourceBounds(pf("truncate", 2, StringType),
        "􏿿") == Some(("􏿿", null)))
    }

    // ---- day(ts) + bucket(4, id) + truncate(2, cat): write → read
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_transforms").toString + "/t"
    val rows = Seq(
      (1L, "2021-03-05 10:00:00", "alpha"),
      (2L, "2021-03-05 23:59:59", "alpine"),
      (3L, "2021-03-06 00:00:01", "beta"),
      (4L, "2021-04-01 12:00:00", "bravo"),
      (5L, "2022-01-15 08:30:00", "gamma"))
    val df = rows.toDF("id", "ts_s", "cat")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .select("id", "ts", "cat")
    IcebergWrite.create(spark, df, dir,
      partitionBy = Seq("day(ts)", "bucket(4, id)", "truncate(2, cat)"))
    // source columns STAY in the data files; full read is exact
    val got = IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getString(2)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(got(0)._2.startsWith("2021-03-05 10:00") && got(0)._3 == "alpha")
    // appends keep the transform layout
    IcebergWrite.append(spark,
      Seq((6L, java.sql.Timestamp.valueOf("2021-03-05 11:00:00"), "alto"))
        .toDF("id", "ts", "cat"), dir)
    assert(IcebergScan.read(spark, dir).count() == 6L)
    // the hive layout carries the DERIVED values (human-readable day)
    val dataDirs = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dataDirs.exists(_.startsWith("ts_day=2021-03-05")), s"dirs: $dataDirs")

    // ---- PRUNING on the SOURCE columns, proven by deleting ruled-out
    // files: a matching read works, a pruned-away read never plans them
    val metaDirs = IcebergScan.files(spark, dir).collect().map(_.getString(0))
    def livePaths(filter: org.apache.spark.sql.Column): Set[String] =
      // which files survive the pruner for this filter (the scan's
      // planned input files ARE the post-prune set)
      IcebergScan.read(spark, dir, skippingFilter = Some(filter))
        .inputFiles.toSet
    val all = livePaths(lit(true))
    assert(all.size >= 4, s"expected several files, got ${all.size}")
    // day pruning: a timestamp range inside 2021-03-05 keeps only that day
    val day1 = livePaths(col("ts") >= to_timestamp(lit("2021-03-05 00:00:00")) &&
      col("ts") <= to_timestamp(lit("2021-03-05 23:59:59")))
    assert(day1.forall(_.contains("ts_day=2021-03-05")), s"day prune leaked: $day1")
    assert(day1.nonEmpty)
    // bucket pruning: id = 5 keeps only id's bucket
    val b5 = IcebergTransforms.bucketOf(org.apache.spark.sql.types.LongType, 5L, 4)
    val bucket5 = livePaths(col("id") === 5L)
    assert(bucket5.nonEmpty && bucket5.forall(_.contains(s"id_bucket=$b5")),
      s"bucket prune leaked (want id_bucket=$b5): $bucket5")
    // truncate pruning: cat = 'gamma' keeps only the 'ga' prefix group
    val trunc = livePaths(col("cat") === "gamma")
    assert(trunc.nonEmpty && trunc.forall(_.contains("cat_trunc=ga")),
      s"truncate prune leaked: $trunc")
    // prefix RANGE pruning: cat >= 'b' rules out the 'al' groups
    val bplus = livePaths(col("cat") >= "b")
    assert(bplus.nonEmpty && bplus.forall(!_.contains("cat_trunc=al")),
      s"truncate range prune leaked: $bplus")

    // physically delete every file the day filter rules out — the
    // pruned read must still answer without touching them
    (all -- day1).foreach(p => java.nio.file.Files.delete(
      java.nio.file.Paths.get(new java.net.URI(p))))
    assert(IcebergScan.read(spark, dir,
      skippingFilter = Some(col("ts") >= to_timestamp(lit("2021-03-05 00:00:00")) &&
        col("ts") <= to_timestamp(lit("2021-03-05 23:59:59"))))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 6L),
      "day-pruned read must not touch ruled-out (deleted) files")

    // ---- month/year transforms + equality deletes stay global
    val d2 = java.nio.file.Files.createTempDirectory("graft_ice_tr2").toString + "/t"
    IcebergWrite.create(spark,
      Seq((1L, java.sql.Date.valueOf("2021-03-05")),
        (2L, java.sql.Date.valueOf("2021-07-20")),
        (3L, java.sql.Date.valueOf("2022-02-01"))).toDF("id", "d"), d2,
      partitionBy = Seq("month(d)"))
    assert(IcebergScan.read(spark, d2).count() == 3L)
    // month value is the spec ordinal (months since 1970-01)
    assert(new java.io.File(s"$d2/data").listFiles().map(_.getName).toSet
      .contains("d_month=614")) // (2021-1970)*12 + 3 - 1
    val m = IcebergScan.read(spark, d2,
      skippingFilter = Some(col("d") === java.sql.Date.valueOf("2021-07-20")))
      .inputFiles
    assert(m.forall(_.contains("d_month=618")), s"month prune leaked: ${m.toSeq}")
    // equality deletes are global — allowed on transform specs
    assert(IcebergWrite.deleteEqual(spark, d2, Seq(2L).toDF("id")) == 1L)
    assert(IcebergScan.read(spark, d2).collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // POSITION deletes shard per DERIVED partition tuple — they work on
    // transform specs too (the GDPR-delete path on hidden-partitioned
    // event tables), and the delete files land partition-scoped
    assert(IcebergWrite.deleteWhere(spark, d2, col("id") === 3L) == 1L)
    assert(IcebergScan.read(spark, d2).collect().map(_.getLong(0)).toSet == Set(1L))
    val delDirs = deleteDir(d2.stripSuffix("/t") + "/t", "deletes-v")
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(delDirs.exists(_.startsWith("d_month=")),
      s"transform-spec position deletes must shard by derived partition, got $delDirs")

    // ---- the FULL DML surface runs on transform specs: a CoW UPDATE
    // that moves a row across derived (month) partitions, a MERGE that
    // re-inserts, and a compact that folds the deltas
    assert(IcebergWrite.updateWhere(spark, d2, col("id") === 1L,
      Seq("d" -> lit(java.sql.Date.valueOf("2022-06-15")))) == 1L)
    assert(IcebergScan.read(spark, d2).head().getDate(1).toString == "2022-06-15")
    // the migrated row lives in its NEW derived partition dir
    assert(IcebergScan.read(spark, d2,
      skippingFilter = Some(col("d") === java.sql.Date.valueOf("2022-06-15")))
      .inputFiles.forall(_.contains("d_month=629")), // (2022-1970)*12 + 6 - 1
      "partition-migrating update must land in the new derived dir")
    val (um, im) = IcebergWrite.merge(spark, d2,
      Seq((1L, java.sql.Date.valueOf("2021-01-01")),
        (9L, java.sql.Date.valueOf("2023-02-02"))).toDF("id", "d"), Seq("id"))
    assert(um == 1L && im == 1L)
    IcebergWrite.compact(spark, d2, smallFileBytes = 1L << 30)
    assert(IcebergScan.read(spark, d2).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString)).toSet ==
      Set((1L, "2021-01-01"), (9L, "2023-02-02")))
    // merge-on-read UPDATE derives transform partitions for its images too
    IcebergWrite.setProperties(spark, d2, Map("write.update.mode" -> "merge-on-read"))
    assert(IcebergWrite.updateWhere(spark, d2, col("id") === 9L,
      Seq("d" -> lit(java.sql.Date.valueOf("2024-03-03")))) == 1L)
    assert(IcebergScan.read(spark, d2).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString)).toSet ==
      Set((1L, "2021-01-01"), (9L, "2024-03-03")))

    // ---- the DSv2 stream source consumes a transform-partitioned
    // table (source columns live in the files; no path injection)
    val sDir = java.nio.file.Files.createTempDirectory("graft_ice_tr_s").toString + "/t"
    IcebergWrite.create(spark,
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-05 10:00:00")))
        .toDF("id", "ts"), sDir, partitionBy = Seq("day(ts)", "bucket(4, id)"))
    val delivered = scala.collection.mutable.ListBuffer[Long]()
    val q = spark.readStream
      .format(classOf[graft.streaming.IcebergStreamProvider].getName).load(sDir)
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ice_tr_s_ck").toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        delivered.synchronized { delivered ++= b.collect().map(_.getLong(0)) }
        ()
      }.start()
    try {
      q.processAllAvailable()
      IcebergWrite.append(spark,
        Seq((2L, java.sql.Timestamp.valueOf("2024-01-06 11:00:00")))
          .toDF("id", "ts"), sDir)
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.toSet) == Set(1L, 2L),
        s"stream over a transform-partitioned table, got $delivered")
    } finally q.stop()

    // ---- parse validation is loud
    val base = Seq((1L, "x")).toDF("id", "v")
    assert(intercept[IllegalArgumentException] {
      IcebergWrite.create(spark, base,
        java.nio.file.Files.createTempDirectory("graft_tr_bad").toString + "/t",
        partitionBy = Seq("day(v)")) // string source
    }.getMessage.contains("date/timestamp"))
    assert(intercept[IllegalArgumentException] {
      IcebergWrite.create(spark, base,
        java.nio.file.Files.createTempDirectory("graft_tr_bad2").toString + "/t",
        partitionBy = Seq("shard(4, id)"))
    }.getMessage.contains("unknown partition transform"))
  }

  test("partition-spec evolution: unpartitioned -> day(ts) -> month+bucket; old files conservative, compact folds, identity refuses") {
    import graft.sources.{IcebergScan, IcebergTransforms, IcebergWrite}
    import org.apache.spark.sql.functions.{col, lit, to_timestamp}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_spec_evo").toString + "/t"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def rows(ids: Seq[Long]): Seq[(Long, java.sql.Timestamp, String)] =
      ids.map(i => (i, ts(f"2021-03-${(i % 4 + 3)}%02d 10:00:00"), s"v$i"))
    def df(rs: Seq[(Long, java.sql.Timestamp, String)]) = rs.toDF("id", "ts", "v")
    def readIds() = IcebergScan.read(spark, dir).collect().map(_.getLong(0)).toSet

    // v1 unpartitioned table, two flat appends
    IcebergWrite.create(spark, df(rows(1L to 4L)), dir)
    IcebergWrite.append(spark, df(rows(5L to 8L)), dir)
    // EVOLVE: day(ts) becomes the default spec; no data moves
    IcebergWrite.updatePartitionSpec(spark, dir, Seq("day(ts)"))
    assert(readIds() == (1L to 8L).toSet, "evolution must not move data")
    // new appends land in derived hive dirs
    IcebergWrite.append(spark, df(rows(9L to 12L)), dir)
    assert(new java.io.File(s"$dir/data").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("ts_day=2021-03-")),
      "post-evolution appends must use the new layout")
    assert(readIds() == (1L to 12L).toSet)

    // pruning: a one-day filter PRUNES new files to the day and keeps
    // every old (pre-evolution) file conservatively
    def dayCond = col("ts") >= to_timestamp(lit("2021-03-03 00:00:00")) &&
      col("ts") < to_timestamp(lit("2021-03-04 00:00:00"))
    val planned = IcebergScan.read(spark, dir, skippingFilter = Some(dayCond)).inputFiles
    assert(planned.filter(_.contains("ts_day=")).forall(_.contains("ts_day=2021-03-03")),
      s"new-layout files must prune to the day: ${planned.toSeq}")
    assert(planned.exists(!_.contains("ts_day=")), "old flat files stay (conservative)")
    val want3 = (1L to 12L).filter(_ % 4 == 0).toSet // ids with day 03
    assert(IcebergScan.read(spark, dir, skippingFilter = Some(dayCond))
      .collect().map(_.getLong(0)).toSet == want3)

    // DML across MIXED layouts: delete one day's rows everywhere
    val n = IcebergWrite.deleteWhere(spark, dir, dayCond)
    assert(n == want3.size.toLong)
    assert(readIds() == (1L to 12L).toSet -- want3)

    // COMPACT folds old flat files into the new layout; after the fold
    // pruning covers EVERY file (prove by deleting ruled-out files)
    IcebergWrite.compact(spark, dir, smallFileBytes = 1L << 30)
    val all2 = IcebergScan.read(spark, dir).inputFiles.toSet
    assert(all2.forall(_.contains("ts_day=")), s"compact must fold the layout: $all2")
    def day5 = col("ts") >= to_timestamp(lit("2021-03-05 00:00:00")) &&
      col("ts") < to_timestamp(lit("2021-03-06 00:00:00"))
    val kept2 = IcebergScan.read(spark, dir, skippingFilter = Some(day5)).inputFiles.toSet
    assert(kept2.nonEmpty && kept2.forall(_.contains("ts_day=2021-03-05")))

    // SECOND evolution: day -> month + bucket; appends follow it
    IcebergWrite.updatePartitionSpec(spark, dir, Seq("month(ts)", "bucket(4, id)"))
    IcebergWrite.append(spark, df(Seq((20L, ts("2021-07-20 08:00:00"), "v20"))), dir)
    val julyFiles = IcebergScan.read(spark, dir,
      skippingFilter = Some(col("ts") >= to_timestamp(lit("2021-07-01 00:00:00")))).inputFiles
    assert(julyFiles.exists(_.contains("ts_month=618")), s"got ${julyFiles.toSeq}")
    assert(readIds().contains(20L))
    // ... and the metadata registers the history (3 specs + empty)
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir,
        "metadata", s"v${new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, "metadata", "version-hint.text")), "UTF-8").trim}.metadata.json")), "UTF-8"))
    assert(meta.get("partition-specs").size() >= 3)
    assert(meta.get("format-version").asInt() == 2)

    // evolve to the UNPARTITIONED spec: future appends land flat
    IcebergWrite.updatePartitionSpec(spark, dir, Nil)
    IcebergWrite.append(spark, df(Seq((21L, ts("2021-08-01 08:00:00"), "v21"))), dir)
    assert(readIds().contains(21L))

    // refusals: identity fields, in the new spec or anywhere in history
    val e1 = intercept[IllegalArgumentException](
      IcebergWrite.updatePartitionSpec(spark, dir, Seq("v")))
    assert(e1.getMessage.contains("identity"), e1.getMessage)
    val idDir = java.nio.file.Files.createTempDirectory("graft_ice_spec_evo_id").toString + "/t"
    IcebergWrite.create(spark, df(rows(1L to 2L)), idDir, partitionBy = Seq("v"))
    val e2 = intercept[IllegalArgumentException](
      IcebergWrite.updatePartitionSpec(spark, idDir, Seq("day(ts)")))
    assert(e2.getMessage.contains("identity"), e2.getMessage)
  }

  test("schema evolution x hidden partitioning: renaming a transform source keeps pruning; dropping it refuses") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.{col, lit, to_timestamp}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_tr_evolve").toString + "/t"
    val rows = Seq(
      (1L, "2021-03-05 10:00:00", "alpha"),
      (2L, "2021-03-06 08:00:00", "beta"),
      (3L, "2021-04-01 12:00:00", "gamma"))
    IcebergWrite.create(spark,
      rows.toDF("id", "ts_s", "cat")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
        .select("id", "ts", "cat"),
      dir, partitionBy = Seq("day(ts)", "bucket(4, id)"))

    // rename the transform SOURCE — spec fields reference it by
    // source-id, so the spec survives; reads resolve old files by
    // parquet field id
    IcebergWrite.renameColumn(spark, dir, "ts", "event_ts")
    val after = IcebergScan.read(spark, dir)
    assert(after.columns.toSeq == Seq("id", "event_ts", "cat"))
    assert(after.count() == 3L)

    // appends under the NEW name still derive the transform dirs
    IcebergWrite.append(spark,
      Seq((4L, java.sql.Timestamp.valueOf("2021-03-05 11:00:00"), "delta"))
        .toDF("id", "event_ts", "cat"), dir)
    assert(new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory).map(_.getName).count(_.startsWith("ts_day=2021-03-05")) == 1)

    // DML against the renamed source keeps migrating partitions
    assert(IcebergWrite.updateWhere(spark, dir, col("id") === 1L,
      Seq("event_ts" -> lit(java.sql.Timestamp.valueOf("2021-03-05 09:00:00")))) == 1L)

    // dropping a transform source refuses loudly (the spec would
    // become unresolvable); the table stays readable afterwards
    val eDrop = intercept[IllegalArgumentException](
      IcebergWrite.dropColumn(spark, dir, "event_ts"))
    assert(eDrop.getMessage.contains("derives from it"), eDrop.getMessage)
    val eDrop2 = intercept[IllegalArgumentException](
      IcebergWrite.dropColumn(spark, dir, "id")) // bucket source
    assert(eDrop2.getMessage.contains("derives from it"), eDrop2.getMessage)

    // renaming TO a spec field name refuses (hive path collision)
    val eRen = intercept[IllegalArgumentException](
      IcebergWrite.renameColumn(spark, dir, "cat", "ts_day"))
    assert(eRen.getMessage.contains("partition field name"), eRen.getMessage)

    // an unrelated column still drops fine
    IcebergWrite.dropColumn(spark, dir, "cat")
    assert(IcebergScan.read(spark, dir).columns.toSeq == Seq("id", "event_ts"))

    // PRUNING on the RENAMED source column still skips files — proven
    // by physically deleting everything the day filter rules out
    // (destructive: keep this LAST)
    def dayCond = col("event_ts") >= to_timestamp(lit("2021-03-05 00:00:00")) &&
      col("event_ts") < to_timestamp(lit("2021-03-06 00:00:00"))
    val all = IcebergScan.read(spark, dir).inputFiles.toSet
    val kept = IcebergScan.read(spark, dir, skippingFilter = Some(dayCond)).inputFiles.toSet
    assert(kept.nonEmpty && kept.size < all.size,
      s"rename must not break transform pruning: kept ${kept.size} of ${all.size}")
    assert(kept.forall(_.contains("ts_day=2021-03-05")))
    (all -- kept).foreach(p => java.nio.file.Files.delete(
      java.nio.file.Paths.get(new java.net.URI(p))))
    assert(IcebergScan.read(spark, dir, skippingFilter = Some(dayCond))
      .collect().map(_.getLong(0)).toSet == Set(1L, 4L),
      "pruned read after rename must not touch ruled-out (deleted) files")
  }

  test("rewrites carry kept pre-evolution files under their ORIGINAL spec — one manifest per spec-id") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.{col, concat, lit, to_timestamp}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_spec_keep").toString + "/t"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // spec 0 = day(ts): ids 1-8 over two days
    IcebergWrite.create(spark,
      (1L to 8L).map(i => (i, ts(f"2021-03-${i % 2 + 3}%02d 10:00:00"), s"v$i"))
        .toDF("id", "ts", "v"),
      dir, partitionBy = Seq("day(ts)"))
    // evolve to bucket(4, id); ids 9-16 land under the new spec
    IcebergWrite.updatePartitionSpec(spark, dir, Seq("bucket(4, id)"))
    IcebergWrite.append(spark,
      (9L to 16L).map(i => (i, ts("2021-03-05 10:00:00"), s"v$i"))
        .toDF("id", "ts", "v"), dir)
    // CoW rewrite whose victims are only NEW-spec files: the old
    // day-spec files are KEPT entries of the rewrite manifest(s)
    val n = IcebergWrite.updateWhere(spark, dir, col("id") >= 9L,
      Seq("v" -> concat(lit("U:"), col("v"))))
    assert(n == 8L)
    val got = IcebergScan.read(spark, dir).select("id", "v")
      .as[(Long, String)].collect().toMap
    assert(got.keySet == (1L to 16L).toSet)
    assert((9L to 16L).forall(i => got(i) == s"U:v$i"))
    assert((1L to 8L).forall(i => got(i) == s"v$i"))

    def readAvroFile(p: String) = {
      val in = new org.apache.avro.mapred.FsInput(
        new org.apache.hadoop.fs.Path(p), spark.sparkContext.hadoopConfiguration)
      org.apache.avro.file.DataFileReader.openReader(
        in, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
        .asInstanceOf[org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord]]
    }
    val hint = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "metadata", "version-hint.text")), "UTF-8").trim
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "metadata", s"v$hint.metadata.json")), "UTF-8"))
    val curId = meta.get("current-snapshot-id").asLong()
    val listPath = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == curId).get.get("manifest-list").asText()
    val list = readAvroFile(if (listPath.startsWith("/")) listPath else s"$dir/$listPath")
    val listRows = try {
      val b = Seq.newBuilder[org.apache.avro.generic.GenericRecord]
      while (list.hasNext) b += list.next(); b.result()
    } finally list.close()
    val dataManifests = listRows.filter(_.get("content").toString.toInt == 0)
    val bySpec = dataManifests.map(r =>
      r.get("partition_spec_id").toString.toInt -> r.get("manifest_path").toString)
    // kept old-spec files must NOT be folded under the current default
    // spec (null transform values read as "source is null" to external
    // partition evaluators → silent pruning): one manifest per spec-id
    assert(bySpec.map(_._1).distinct.size >= 2,
      s"expected manifests for BOTH specs, got spec-ids ${bySpec.map(_._1)}")
    bySpec.foreach { case (sid, mp) =>
      val m = readAvroFile(if (mp.startsWith("/")) mp else s"$dir/$mp")
      try {
        assert(new String(m.getMeta("partition-spec-id"), "UTF-8").toInt == sid,
          s"manifest header spec-id must match the list row for $mp")
        val partSchema = m.getSchema.getField("data_file").schema()
          .getField("partition").schema()
        val fieldNames = partSchema.getFields.asScala.map(_.name()).toSet
        val expect = if (sid == 0) Set("ts_day") else Set("id_bucket")
        assert(fieldNames == expect,
          s"spec-$sid manifest must carry exactly that spec's fields, got $fieldNames")
        while (m.hasNext) {
          val e = m.next()
          val part = e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
            .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
          fieldNames.foreach(f => assert(part.get(f) != null,
            s"partition value '$f' must be carried, not null-filled (spec $sid)"))
        }
      } finally m.close()
    }

    // the kept files' day values survived the rewrite → a day filter
    // still prunes them (pre-fix they were null-filled and unprunable
    // by external readers / wrongly prunable by spec-conformant ones)
    val day3 = col("ts") >= to_timestamp(lit("2021-03-03 00:00:00")) &&
      col("ts") < to_timestamp(lit("2021-03-04 00:00:00"))
    val planned = IcebergScan.read(spark, dir, skippingFilter = Some(day3)).inputFiles
    assert(planned.filter(_.contains("ts_day=")).forall(_.contains("ts_day=2021-03-03")),
      s"kept old-spec files must still day-prune: ${planned.toSeq}")
  }

  test("v2 interop surface: field-ids, manifest metadata, v2 counts, reserved delete-column ids") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_v2io").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), dir)
    IcebergWrite.deleteWhere(spark, dir, col("id") === 2L)

    def readAvroFile(p: String) = {
      val in = new org.apache.avro.mapred.FsInput(
        new org.apache.hadoop.fs.Path(p), spark.sparkContext.hadoopConfiguration)
      org.apache.avro.file.DataFileReader.openReader(
        in, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
        .asInstanceOf[org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord]]
    }

    // resolve the current snapshot's manifest list via the metadata
    // JSON (avro names carry an OCC nonce — only the pointer is stable)
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/metadata/v2.metadata.json")), "UTF-8"))
    val curId = meta.get("current-snapshot-id").asLong()
    val listPath = {
      val snaps = meta.get("snapshots").elements().asScala.toList
      val p = snaps.find(_.get("snapshot-id").asLong() == curId).get
        .get("manifest-list").asText()
      if (p.startsWith("/") || p.contains("://")) p else s"$dir/$p"
    }

    // manifest list: full v2 manifest_file shape with field-ids + counts
    var deleteManifestPath: String = null
    val list = readAvroFile(listPath)
    try {
      assert(new String(list.getMeta("format-version"), "UTF-8") == "2")
      assert(new String(list.getMeta("snapshot-id"), "UTF-8") == "2")
      val sch = list.getSchema
      assert(sch.getField("manifest_path").getObjectProp("field-id") == 500)
      assert(sch.getField("sequence_number").getObjectProp("field-id") == 515)
      assert(sch.getField("min_sequence_number").getObjectProp("field-id") == 516)
      assert(sch.getField("content").getObjectProp("field-id") == 517)
      assert(sch.getField("added_data_files_count").getObjectProp("field-id") == 504)
      val rows = { val b = Seq.newBuilder[org.apache.avro.generic.GenericRecord]
        while (list.hasNext) b += list.next(); b.result() }
      assert(rows.size == 2)
      val dataRow = rows.find(_.get("content").toString.toInt == 0).get
      val delRow = rows.find(_.get("content").toString.toInt == 1).get
      assert(dataRow.get("sequence_number").toString.toLong == 1L)
      assert(dataRow.get("added_data_files_count").toString.toInt >= 1)
      assert(dataRow.get("added_rows_count").toString.toLong == 3L)
      assert(delRow.get("sequence_number").toString.toLong == 2L)
      assert(delRow.get("added_rows_count").toString.toLong == 1L)
      deleteManifestPath = {
        val p = delRow.get("manifest_path").toString
        if (p.startsWith("/") || p.contains("://")) p else s"$dir/$p"
      }
    } finally list.close()

    // delete manifest: spec metadata keys + entry/data_file field-ids
    val mf = readAvroFile(deleteManifestPath)
    try {
      assert(new String(mf.getMeta("content"), "UTF-8") == "deletes")
      assert(new String(mf.getMeta("partition-spec-id"), "UTF-8") == "0")
      assert(new String(mf.getMeta("schema"), "UTF-8").contains("\"fields\""))
      val es = mf.getSchema
      assert(es.getField("status").getObjectProp("field-id") == 0)
      assert(es.getField("data_file").getObjectProp("field-id") == 2)
      val dfs = es.getField("data_file").schema()
      assert(dfs.getField("file_path").getObjectProp("field-id") == 100)
      assert(dfs.getField("content").getObjectProp("field-id") == 134)
    } finally mf.close()

    // position-delete parquet: reserved column ids 2147483546/2147483545
    val delParquet = deleteDir(dir, "deletes-v2")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(delParquet.getPath),
        spark.sparkContext.hadoopConfiguration))
    try {
      val msgType = footer.getFooter.getFileMetaData.getSchema
      val ids = msgType.getFields.asScala.map(f => f.getName -> f.getId.intValue()).toMap
      assert(ids("file_path") == 2147483546, s"file_path id was ${ids("file_path")}")
      assert(ids("pos") == 2147483545, s"pos id was ${ids("pos")}")
    } finally footer.close()

    // and the table still reads correctly through our own reader
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("partitioned create/append: hive layout, typed manifest partition records, exact read-back") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_part").toString + "/t"
    val d1 = Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L))
      .toDF("id", "lang", "score")
    IcebergWrite.create(spark, d1, dir, partitionBy = Seq("lang"))
    IcebergWrite.append(spark, Seq((4L, "fr", 40L), (5L, null.asInstanceOf[String], 50L))
      .toDF("id", "lang", "score"), dir)

    val got = IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L),
      (4L, "fr", 40L), (5L, null, 50L)))

    // the layout IS hive: data files live under lang=<v> dirs
    val dataDir = java.nio.file.Paths.get(dir, "data")
    val partDirs = java.nio.file.Files.list(dataDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("lang=")).toSet
    assert(partDirs == Set("lang=en", "lang=de", "lang=fr", "lang=__HIVE_DEFAULT_PARTITION__"))

    // the metadata declares the identity spec
    val v = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/metadata/version-hint.text")), "UTF-8").trim
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/metadata/v$v.metadata.json")), "UTF-8")
    assert(meta.contains(""""transform":"identity"""") && meta.contains(""""source-id":2"""))

    // time travel on a partitioned table still works
    assert(IcebergScan.read(spark, dir, snapshotAsOf = Some(1L)).count() == 3L)

    // appending data missing the partition column is loud
    val e = intercept[IllegalArgumentException] {
      IcebergWrite.append(spark, Seq((9L, 9L)).toDF("id", "score"), dir)
    }
    assert(e.getMessage.contains("schema") || e.getMessage.contains("partition"))

  }

  test("partitioned deleteWhere: per-partition delete files with partition records, exact read-back") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_part_del").toString + "/t"
    IcebergWrite.create(spark,
      Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L), (4L, "fr", 40L),
        (5L, null.asInstanceOf[String], 50L)).toDF("id", "lang", "score"),
      dir, partitionBy = Seq("lang"))

    // a delete spanning two partitions (and leaving fr/null untouched)
    val n = IcebergWrite.deleteWhere(spark, dir, col("id").isin(1L, 2L))
    assert(n == 2L)
    val got = IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    assert(got == Seq((3L, "en"), (4L, "fr"), (5L, null)))

    // the delete files are PARTITION-SCOPED: one hive dir per touched
    // partition under deletes-v2, none for the untouched partitions
    val delDirs = deleteDir(dir, "deletes-v2").listFiles()
      .map(_.getName).filter(_.startsWith("lang=")).toSet
    assert(delDirs == Set("lang=en", "lang=de"))

    // time travel to the pre-delete snapshot still sees all 5 rows
    assert(IcebergScan.read(spark, dir, snapshotAsOf = Some(1L)).count() == 5L)

    // a second delete hitting the NULL partition (hive default dir)
    assert(IcebergWrite.deleteWhere(spark, dir, col("lang").isNull) == 1L)
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(3L, 4L))
    // zero matches commits nothing
    val v = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/metadata/version-hint.text")), "UTF-8").trim.toInt
    assert(IcebergWrite.deleteWhere(spark, dir, col("id") === 999L) == 0L)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/metadata/version-hint.text")), "UTF-8").trim.toInt == v)
  }

  test("partitioned updateWhere: victim partitions rewritten, partition-column update migrates the row") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_part_upd").toString + "/t"
    IcebergWrite.create(spark,
      Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L), (4L, "fr", 40L))
        .toDF("id", "lang", "score"),
      dir, partitionBy = Seq("lang"))
    def dataFilesOf(part: String): Set[String] = {
      val p = java.nio.file.Paths.get(dir, "data", s"lang=$part")
      java.nio.file.Files.list(p).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    }
    val frBefore = dataFilesOf("fr")

    // non-partition-column update inside one partition
    assert(IcebergWrite.updateWhere(spark, dir, col("lang") === "en",
      Seq("score" -> (col("score") + 1L))) == 2L)
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((1L, 11L), (2L, 20L), (3L, 31L), (4L, 40L)))
    // untouched partitions keep their physical files (EXISTING entries)
    assert(dataFilesOf("fr") == frBefore, "fr partition must not be rewritten")

    // PARTITION-COLUMN update: the row migrates to its new hive dir
    assert(IcebergWrite.updateWhere(spark, dir, col("id") === 4L,
      Seq("lang" -> lit("en"))) == 1L)
    val got = IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "en"), (2L, "de"), (3L, "en"), (4L, "en")))
    // pruned read of the new partition finds the migrated row
    assert(IcebergScan.read(spark, dir, skippingFilter = Some(col("lang") === "en"))
      .count() == 3L)
  }

  test("partitioned merge + deleteEqual (global, spec-id 1) + compact") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_part_merge").toString + "/t"
    IcebergWrite.create(spark,
      Seq((1L, "en", 10L), (2L, "de", 20L)).toDF("id", "lang", "score"),
      dir, partitionBy = Seq("lang"))

    // upsert: id=2 updated (moves partition de→fr), id=7 inserted
    val (upd, ins) = IcebergWrite.merge(spark, dir,
      Seq((2L, "fr", 99L), (7L, "en", 70L)).toDF("id", "lang", "score"), Seq("id"))
    assert((upd, ins) == (1L, 1L))
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "en", 10L), (2L, "fr", 99L), (7L, "en", 70L)))

    // GLOBAL equality delete: key says nothing about the partition
    assert(IcebergWrite.deleteEqual(spark, dir, Seq(2L).toDF("id")) == 1L)
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 7L))
    // the metadata registers the unpartitioned spec-id 1 it commits under
    val v = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/metadata/version-hint.text")), "UTF-8").trim
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/metadata/v$v.metadata.json")), "UTF-8")
    assert(meta.contains(""""spec-id":1,"fields":[]"""))
    // a row with the deleted key appended AFTER the delete survives
    // (delete.seq > data.seq strictly)
    IcebergWrite.append(spark, Seq((2L, "de", 21L)).toDF("id", "lang", "score"), dir)
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 7L))

    // compaction folds the small files per partition and applies deletes
    val (picked, written) = IcebergWrite.compact(spark, dir, smallFileBytes = 1L << 20)
    assert(picked >= 2 && written >= 1)
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "en", 10L), (2L, "de", 21L), (7L, "en", 70L)))
    // post-compaction DML still works (partition records on EXISTING entries intact)
    assert(IcebergWrite.deleteWhere(spark, dir,
      org.apache.spark.sql.functions.col("id") === 7L) == 1L)
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("partitioned pruning: partition values in manifests prune files the scan never touches") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_part_prune").toString + "/t"
    val df = (1L to 60L).map(i => (i, s"l${i % 3}", i * 2)).toDF("id", "lang", "score")
    IcebergWrite.create(spark, df, dir, partitionBy = Seq("lang"))

    // physically delete the OTHER partitions' files: if pruning fails,
    // the read fails — the DeltaSkipSpec proof pattern
    val dataDir = java.nio.file.Paths.get(dir, "data")
    java.nio.file.Files.list(dataDir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("lang=") &&
        p.getFileName.toString != "lang=l1")
      .foreach { p =>
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    val got = IcebergScan.read(spark, dir,
      skippingFilter = Some(col("lang") === "l1")).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == (1L to 60L).filter(_ % 3 == 1).map(i => (i, "l1")).toSeq,
      "partition-pruned read must return exactly the filter semantics")
    // and without the filter the vanished files ARE touched → loud
    intercept[Exception] { IcebergScan.read(spark, dir).count() }
  }

  test("partitioned date + int columns round-trip; incremental readChanges stays partition-aware") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_part_dt").toString + "/t"
    val mk = (i: Long, d: String, b: Int) =>
      (i, java.sql.Date.valueOf(d), b, s"p$i")
    val d1 = Seq(mk(1L, "2024-01-01", 7), mk(2L, "2024-02-02", 8))
      .toDF("id", "day", "bucket", "payload")
    IcebergWrite.create(spark, d1, dir, partitionBy = Seq("day", "bucket"))
    val d2 = Seq(mk(3L, "2024-01-01", 7)).toDF("id", "day", "bucket", "payload")
    IcebergWrite.append(spark, d2, dir)

    val got = IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getInt(2), r.getString(3))).toSeq
    assert(got == Seq((1L, "2024-01-01", 7, "p1"), (2L, "2024-02-02", 8, "p2"),
      (3L, "2024-01-01", 7, "p3")))

    // snapshot-diff CDC over the partitioned table carries partition cols
    val inc = IcebergScan.readChanges(spark, dir, 1L, 2L).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getInt(2))).toSeq
    assert(inc == Seq((3L, "2024-01-01", 7)))
  }

  test("non-hive layouts read via manifest partition-record injection") {
    import graft.sources.IcebergScan
    import org.apache.spark.sql.types._
    import spark.implicits._
    // two flat parquet files WITHOUT the partition column in the data —
    // only the (synthetic) manifest entries know the values
    val base = java.nio.file.Files.createTempDirectory("graft_ice_flat").toString
    Seq((1L, 10L), (2L, 20L)).toDF("id", "score")
      .coalesce(1).write.parquet(s"$base/f1")
    Seq((3L, 30L)).toDF("id", "score").coalesce(1).write.parquet(s"$base/f2")
    def onlyParquet(d: String): String =
      java.nio.file.Files.list(java.nio.file.Paths.get(d)).iterator().asScala
        .map(_.toString).find(_.endsWith(".parquet")).get
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("lang", StringType), StructField("score", LongType)))
    val entries = Seq(
      IcebergScan.FileEntry(onlyParquet(s"$base/f1"), 1L, 0, Nil, 2L,
        partition = Map("lang" -> "en")),
      IcebergScan.FileEntry(onlyParquet(s"$base/f2"), 1L, 0, Nil, 1L,
        partition = Map("lang" -> null)))
    val got = IcebergScan.scanPartitioned(spark, schema,
      Seq(("lang", StructField("lang", StringType))), entries)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "en", 10L), (2L, "en", 20L), (3L, null, 30L)))
  }

  test("IcebergStreamProvider streams a partitioned table (partition values from the path)") {
    import graft.sources.IcebergWrite
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_part_stream").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("graft_ice_part_stream_ck").toString
    IcebergWrite.create(spark, Seq((1L, "en"), (2L, "de")).toDF("id", "lang"), dir,
      partitionBy = Seq("lang"))
    val delivered = scala.collection.mutable.ListBuffer[(Long, String)]()
    val q = spark.readStream
      .format(classOf[graft.streaming.IcebergStreamProvider].getName)
      .load(dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = b.collect().map(r => (r.getLong(0), r.getString(1)))
        delivered.synchronized { delivered ++= rows }
        ()
      }.start()
    try {
      q.processAllAvailable()
      IcebergWrite.append(spark, Seq((3L, "fr")).toDF("id", "lang"), dir)
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.toSet) ==
        Set((1L, "en"), (2L, "de"), (3L, "fr")))
    } finally q.stop()
  }

  test("updateWhere: copy-on-write update — RHS sees originals, untouched files keep sequence, travel intact") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_upd").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "score", "v"), dir)
    IcebergWrite.append(spark, Seq((3L, 30L, "a"), (4L, 40L, "b")).toDF("id", "score", "v"), dir)

    // swap-style: both RHS read the ORIGINAL row (score -> score+id, v untouched rows keep theirs)
    val n = IcebergWrite.updateWhere(spark, dir, col("v") === "a",
      Seq("score" -> (col("score") + col("id")), "v" -> concat(col("v"), lit("!"))))
    assert(n == 2L)
    val after = IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(after == Seq((1L, 11L, "a!"), (2L, 20L, "b"), (3L, 33L, "a!"), (4L, 40L, "b")))
    // time travel to pre-update still sees originals
    assert(IcebergScan.read(spark, dir, snapshotAsOf = Some(2L))
      .filter(col("id") === 1L).head().getLong(1) == 10L)
    // the overwrite snapshot is recorded as such
    val v = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/metadata/version-hint.text")), "UTF-8").trim
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/metadata/v$v.metadata.json")), "UTF-8")
    assert(meta.contains("\"operation\":\"overwrite\""))

    // no-match update commits nothing
    assert(IcebergWrite.updateWhere(spark, dir, col("id") === 99L,
      Seq("score" -> lit(0L))) == 0L)
    val vAfter = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/metadata/version-hint.text")), "UTF-8").trim
    assert(v == vAfter, "empty update must not commit a version")

    // type drift is loud BEFORE anything is written: a double RHS would
    // silently widen the BIGINT column through when/otherwise coercion
    val e = intercept[IllegalArgumentException] {
      IcebergWrite.updateWhere(spark, dir, col("id") === 2L,
        Seq("score" -> (col("score") * lit(0.5))))
    }
    assert(e.getMessage.contains("preserve"))

    // rows already dead under an equality delete never fire the update
    IcebergWrite.deleteEqual(spark, dir, Seq(1L).toDF("id"))
    assert(IcebergWrite.updateWhere(spark, dir, col("id") === 1L,
      Seq("score" -> lit(0L))) == 0L)
  }

  test("merge: upsert by key — matched rows replace, unmatched insert, pure insert appends") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_merge").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "tag", "score"), dir)
    IcebergWrite.append(spark, Seq((3L, "c", 3L)).toDF("id", "tag", "score"), dir)

    val (u, i) = IcebergWrite.merge(spark, dir,
      Seq((2L, "B", 20L), (4L, "d", 4L)).toDF("id", "tag", "score"), Seq("id"))
    assert((u, i) == (1L, 1L))
    val after = IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(after == Seq((1L, "a", 1L), (2L, "B", 20L), (3L, "c", 3L), (4L, "d", 4L)))

    // pure insert (no key matches) degrades to a plain append commit
    val (u2, i2) = IcebergWrite.merge(spark, dir,
      Seq((9L, "z", 9L)).toDF("id", "tag", "score"), Seq("id"))
    assert((u2, i2) == (0L, 1L))
    assert(IcebergScan.read(spark, dir).count() == 5L)

    // duplicate source keys are an ambiguous upsert — loud
    val e = intercept[IllegalArgumentException] {
      IcebergWrite.merge(spark, dir,
        Seq((2L, "x", 0L), (2L, "y", 0L)).toDF("id", "tag", "score"), Seq("id"))
    }
    assert(e.getMessage.contains("duplicate"))

    // schema mismatch is loud
    val e2 = intercept[IllegalArgumentException] {
      IcebergWrite.merge(spark, dir, Seq((2L, "x")).toDF("id", "tag"), Seq("id"))
    }
    assert(e2.getMessage.contains("schema"))

    // merge composes with row-level deletes: delete then upsert the same key re-inserts
    IcebergWrite.deleteWhere(spark, dir, col("id") === 3L)
    val (u3, i3) = IcebergWrite.merge(spark, dir,
      Seq((3L, "c2", 30L)).toDF("id", "tag", "score"), Seq("id"))
    assert((u3, i3) == (0L, 1L), "a deleted row must not count as matched")
    assert(IcebergScan.read(spark, dir).filter(col("id") === 3L).head().getString(1) == "c2")
  }

  test("deleteEqual: equality-delete commit — keys die, later appends with same keys survive") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_eqdel").toString + "/t"
    IcebergWrite.create(spark,
      Seq((1L, Some("a")), (2L, Some("b")), (3L, scala.None), (4L, Some("b")))
        .toDF("id", "v"), dir)
    // delete by v-key: 'b' kills 2 and 4; a NULL key kills 3 (null-safe
    // equality per spec); duplicate source keys collapse via distinct
    val n = IcebergWrite.deleteEqual(spark, dir,
      Seq(Some("b"), scala.None, Some("b")).toDF("v"))
    assert(n == 2L, s"expected 2 distinct key tuples, got $n")
    assert(IcebergScan.read(spark, dir).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // sequence gating: rows appended AFTER the delete survive matching keys
    IcebergWrite.append(spark, Seq((5L, Some("b"))).toDF("id", "v"), dir)
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 5L),
      "post-delete append with a matching key must survive (delete.seq > data.seq rule)")
    // a second equality delete composes with the first
    assert(IcebergWrite.deleteEqual(spark, dir, Seq(1L).toDF("id")) == 1L)
    assert(IcebergScan.read(spark, dir).collect().map(_.getLong(0)).toSeq == Seq(5L))
    // unknown or mistyped key columns are loud
    assert(intercept[IllegalArgumentException] {
      IcebergWrite.deleteEqual(spark, dir, Seq(1).toDF("nope"))
    }.getMessage.contains("not a column"))
    assert(intercept[IllegalArgumentException] {
      IcebergWrite.deleteEqual(spark, dir, Seq(1).toDF("id")) // int, not long
    }.getMessage.contains("does not match"))
    // the delete parquet carries the TABLE's field ids
    val delFile = deleteDir(dir, "eqdeletes-v2")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(delFile.getPath),
        spark.sparkContext.hadoopConfiguration))
    try {
      val ids = footer.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(f => f.getName -> f.getId.intValue()).toMap
      assert(ids("v") == 2, s"v should carry table field id 2, got $ids")
    } finally footer.close()
  }

  test("appendEvolve: fresh field ids, schemas list advances, old rows read NULL, uuid stable") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_evolve").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    // force v2 first so the schemas list is observable
    IcebergWrite.deleteWhere(spark, dir, col("id") === 0L + 99L) // no-op, no commit
    IcebergWrite.appendEvolve(spark,
      Seq((3L, "c", 0.5), (4L, "d", 0.7)).toDF("id", "v", "score"), dir)
    val rows = IcebergScan.read(spark, dir).select("id", "v", "score")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) scala.None else Some(r.getDouble(2)))).toSet
    assert(rows == Set((1L, scala.None), (2L, scala.None),
      (3L, Some(0.5)), (4L, Some(0.7))))
    // metadata: new field got id 3 (after last-column-id 2), schema-id advanced
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/metadata/v2.metadata.json")), "UTF-8"))
    assert(meta.get("last-column-id").asInt() == 3)
    val scoreField = meta.get("schema").get("fields").elements()
      .asScala.find(_.get("name").asText() == "score").get
    assert(scoreField.get("id").asInt() == 3 && !scoreField.get("required").asBoolean())
    val uuid1 = meta.get("table-uuid").asText()
    // strict append now validates against the evolved schema and keeps it
    assert(intercept[IllegalArgumentException] {
      IcebergWrite.append(spark, Seq((5L, "e")).toDF("id", "v"), dir)
    }.getMessage.contains("schema"))
    IcebergWrite.append(spark, Seq((5L, "e", 0.9)).toDF("id", "v", "score"), dir)
    assert(IcebergScan.read(spark, dir).count() == 5L)
    val meta3 = mapper.readTree(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/metadata/v3.metadata.json")), "UTF-8"))
    assert(meta3.get("last-column-id").asInt() == 3, "append must carry the evolved ids")
    assert(meta3.get("table-uuid").asText() == uuid1, "table-uuid must be stable across commits")
    // type change is loud
    assert(intercept[IllegalArgumentException] {
      IcebergWrite.appendEvolve(spark, Seq((6, "x")).toDF("id", "v"), dir)
    }.getMessage.contains("never changes types"))
  }

  test("compact: small files merge with deletes applied, kept files keep their sequence") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_compact").toString + "/t"
    // three single-file commits
    IcebergWrite.create(spark, Seq((1L, "a"), (2L, "kill")).toDF("id", "v").coalesce(1), dir)
    IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "v").coalesce(1), dir)
    IcebergWrite.append(spark, Seq((4L, "d")).toDF("id", "v").coalesce(1), dir)
    // a position delete (v2) that must NOT resurrect through compaction
    assert(IcebergWrite.deleteWhere(spark, dir, col("v") === "kill") == 1L)
    def dataFileCount = IcebergScan.currentDataFiles(spark, dir)._2.size
    assert(dataFileCount == 3)

    val (nSmall, nNew) = IcebergWrite.compact(spark, dir)
    assert(nSmall == 3 && nNew == 1, s"expected 3→1, got ($nSmall, $nNew)")
    assert(dataFileCount == 1)
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L),
      "compaction must keep deletes applied, not resurrect row 2")
    // time travel to the pre-compaction snapshot still works
    assert(IcebergScan.read(spark, dir, snapshotAsOf = Some(4L)).count() == 3L)
    // appends and deletes still work on the compacted table
    IcebergWrite.append(spark, Seq((5L, "e")).toDF("id", "v"), dir)
    assert(IcebergScan.read(spark, dir).count() == 4L)
    assert(IcebergWrite.deleteWhere(spark, dir, col("id") === 3L) == 1L)
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 4L, 5L))
    // below-2-small no-op: everything is already one file
    assert(IcebergWrite.compact(spark, dir,
      smallFileBytes = 1L) == ((0, 0)))
  }

  test("compact preserves equality-delete gating on kept files") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_compact_eq").toString + "/t"
    // one BIG file (kept) and two small ones (compacted)
    IcebergWrite.create(spark,
      (1L to 2000L).map(i => (i, s"pad_$i" * 8)).toDF("id", "v").coalesce(1), dir)
    IcebergWrite.append(spark, Seq((9001L, "x")).toDF("id", "v").coalesce(1), dir)
    IcebergWrite.append(spark, Seq((9002L, "y")).toDF("id", "v").coalesce(1), dir)
    // equality delete AFTER the big file: kills id=1 in it
    assert(IcebergWrite.deleteEqual(spark, dir, Seq(1L, 9001L).toDF("id")) == 2L)
    val sizes = IcebergScan.currentDataFiles(spark, dir)._2
    val threshold = 20000L // big file is ~100KB of padded strings, smalls are ~1KB
    val (ns, nn) = IcebergWrite.compact(spark, dir, smallFileBytes = threshold)
    assert(ns == 2 && nn == 1, s"expected the two small files compacted, got ($ns,$nn) sizes=$sizes")
    val ids = IcebergScan.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(1L), "equality delete must still apply to the KEPT big file")
    assert(!ids.contains(9001L), "deleted row must not resurrect through the rewrite")
    assert(ids.contains(9002L) && ids.contains(2000L))
    assert(ids.size == 2000L, s"expected 1999 survivors of the big file + 9002, got ${ids.size}")
  }

  test("zorder: replace-snapshot recluster — rows exact, files bound BOTH dims, deletes applied") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_z").toString + "/t"
    // 64×64 grid scattered over 6 files, plus a position delete
    val grid = spark.range(0, 4096)
      .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"),
        col("id").as("payload"))
      .repartition(6)
    IcebergWrite.create(spark, grid, dir)
    IcebergWrite.deleteWhere(spark, dir, col("payload") === 0L)
    val before = IcebergScan.read(spark, dir).orderBy("payload")
      .collect().map(_.toSeq).toSeq
    val (nIn, nOut) = IcebergWrite.zorder(spark, dir, Seq("x", "y"),
      bitsPerCol = 6, targetFiles = 16)
    assert(nIn == 6 && nOut == 16, s"expected 6→16, got ($nIn,$nOut)")
    val after = IcebergScan.read(spark, dir).orderBy("payload")
      .collect().map(_.toSeq).toSeq
    assert(after == before, "zorder must preserve surviving rows exactly")
    assert(after.size == 4095, "the deleted row must not resurrect")
    // clustering: every output file bounds BOTH dims below the full range
    val conf = spark.sparkContext.hadoopConfiguration
    val files = IcebergScan.currentDataFiles(spark, dir)._2
    assert(files.size == 16)
    val spans = files.map { f =>
      val stats = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("x"),
          org.apache.spark.sql.functions.max("x"),
          org.apache.spark.sql.functions.min("y"),
          org.apache.spark.sql.functions.max("y")).head()
      (stats.getLong(1) - stats.getLong(0), stats.getLong(3) - stats.getLong(2))
    }
    // z-range cuts can straddle a block boundary, so a couple of files
    // may span wider — but the bulk must bound BOTH dims to a quadrant
    // (an unclustered scatter leaves every file at span 63/63)
    val tight = spans.count { case (sx, sy) => sx <= 31 && sy <= 31 }
    assert(tight >= spans.size - 3,
      s"z-order should bound both dims in most files, got spans $spans")
    assert(spans.forall { case (sx, sy) => sx <= 63 && sy <= 63 })
    // string dim is loud
    assert(intercept[IllegalArgumentException] {
      IcebergWrite.zorder(spark, dir, Seq("nope"))
    }.getMessage.contains("not in table columns"))
  }

  test("skippingFilter: manifest column bounds prune files the scan never touches") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_skip").toString + "/t"
    // id-range-clustered: each of 8 files covers a disjoint id range
    val df = spark.range(0, 8000)
      .select(col("id"), (col("id") % 97).as("v"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("s"), col("id")).as("s"))
      .repartitionByRange(8, col("id"))
      .sortWithinPartitions("id")
    IcebergWrite.create(spark, df, dir)
    val want = (1000L until 1900L).toSeq

    val pruned = IcebergScan.read(spark, dir,
      skippingFilter = Some(col("id") >= 1000 && col("id") < 1900))
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == want)

    // physical proof: delete every file whose range the filter rules
    // out — a reader that failed to prune would now crash
    val all = IcebergScan.currentDataFiles(spark, dir)._2
    val needed = all.filter { p =>
      val mm = spark.read.parquet(p)
        .agg(org.apache.spark.sql.functions.min("id"),
          org.apache.spark.sql.functions.max("id")).head()
      mm.getLong(1) >= 1000L && mm.getLong(0) < 1900L
    }.toSet
    assert(needed.size < all.size, "the filter must rule out some files")
    all.filterNot(needed).foreach(p =>
      new java.io.File(new java.net.URI(p).getPath).delete())
    val prunedAfter = IcebergScan.read(spark, dir,
      skippingFilter = Some(col("id") >= 1000 && col("id") < 1900))
    assert(prunedAfter.collect().map(_.getLong(0)).sorted.toSeq == want,
      "pruned files must never be planned")
    // without the filter the table is now (deliberately) broken
    intercept[Exception] { IcebergScan.read(spark, dir).count() }
  }

  test("manifest bounds round-trip: string + null counts prune IsNull/equality correctly") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_skip2").toString + "/t"
    IcebergWrite.create(spark,
      Seq((1L, Some("apple")), (2L, Some("banana"))).toDF("id", "s").coalesce(1), dir)
    IcebergWrite.append(spark,
      Seq((3L, Some("pear")), (4L, scala.None)).toDF("id", "s").coalesce(1), dir)
    // equality outside [apple, banana] prunes file 1; the null row keeps file 2
    val hit = IcebergScan.read(spark, dir, skippingFilter = Some(col("s") === "zebra"))
    assert(hit.count() == 0L)
    val nulls = IcebergScan.read(spark, dir, skippingFilter = Some(col("s").isNull))
    assert(nulls.collect().map(_.getLong(0)).toSeq == Seq(4L))
    // and the bounds are genuinely in the manifest (not recomputed):
    // physically delete the ids-[1,2] file — a query whose filter
    // prunes it by bounds still answers from the surviving file
    val all = IcebergScan.currentDataFiles(spark, dir)._2
    val fileA = all.find { p =>
      spark.read.parquet(p).agg(org.apache.spark.sql.functions.max("id"))
        .head().getLong(0) == 2L
    }.get
    new java.io.File(new java.net.URI(fileA).getPath).delete()
    val other = IcebergScan.read(spark, dir, skippingFilter = Some(col("id") >= 3))
    assert(other.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
  }

  test("string bounds truncate to 16 chars; truncated pruning stays sound") {
    import graft.sources.{IcebergScan, IcebergStats, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // unit: upper-bound bump semantics
    assert(IcebergStats.truncateLowerStr("a" * 40) == "a" * 16)
    assert(IcebergStats.truncateUpperStr("a" * 40).contains("a" * 15 + "b"))
    assert(IcebergStats.truncateUpperStr("short").contains("short"))
    assert(IcebergStats.truncateUpperStr("￿" * 40).isEmpty,
      "un-bumpable prefixes must drop the upper bound, not corrupt it")
    // e2e: a long-text table's manifests stay small and prune correctly
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_trunc").toString + "/t"
    val longText = (i: Int) => f"doc_$i%05d_" + ("x" * 500)
    IcebergWrite.create(spark,
      (0 until 100).map(i => (i.toLong, longText(i))).toDF("id", "txt")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"), dir)
    val manifest = new java.io.File(s"$dir/metadata").listFiles()
      .filter(f => f.getName.startsWith("manifest-1-") && f.getName.endsWith(".avro")).head
    assert(manifest.length() < 8 * 1024,
      s"manifest is ${manifest.length()} B — string bounds must be truncated, " +
        "not carry 500-char texts")
    // a value outside every file's range prunes to empty
    assert(IcebergScan.read(spark, dir,
      skippingFilter = Some(col("txt") === "zzz")).count() == 0L)
    // a real value (whose 16-char prefix the bounds share) is FOUND —
    // truncation must never prune a live match
    assert(IcebergScan.read(spark, dir,
      skippingFilter = Some(col("txt") === longText(57))).count() == 1L)
    assert(IcebergScan.read(spark, dir,
      skippingFilter = Some(col("txt") < longText(3))).count() == 3L)
  }

  test("rollback: metadata-only restore of an earlier snapshot; appends chain onto it") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_rb").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    IcebergWrite.append(spark, Seq((2L, "b")).toDF("id", "v"), dir)
    IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), dir)
    assert(IcebergScan.read(spark, dir).count() == 3L)
    IcebergWrite.rollback(spark, dir, snapshotId = 2L)
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L), "rollback must restore snapshot 2's view")
    // the rolled-over snapshot is still time-travelable (metadata-only)
    assert(IcebergScan.read(spark, dir, snapshotAsOf = Some(3L)).count() == 3L)
    // an append after rollback chains onto the RESTORED state, not the rolled-over one
    IcebergWrite.append(spark, Seq((4L, "d")).toDF("id", "v"), dir)
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L),
      "post-rollback append must not resurrect the rolled-back snapshot's rows")
    // unknown snapshot is loud
    assert(intercept[IllegalArgumentException] {
      IcebergWrite.rollback(spark, dir, 99L)
    }.getMessage.contains("not found"))
  }

  test("expireSnapshots: old snapshots drop, their exclusive files delete, live data intact") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_exp").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "a"), (2L, "kill")).toDF("id", "v").coalesce(1), dir)
    IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "v").coalesce(1), dir)
    IcebergWrite.deleteWhere(spark, dir, col("v") === "kill")
    IcebergWrite.compact(spark, dir) // v4: replace snapshot — old files now exclusive to v<=3
    val before = IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq
    assert(before == Seq(1L, 3L))
    val (nExp, deleted) = IcebergWrite.expireSnapshots(spark, dir, keepLast = 1)
    assert(nExp == 3, s"expected 3 expired snapshots, got $nExp")
    assert(deleted.nonEmpty, "pre-compaction files were exclusive to expired snapshots")
    deleted.foreach(p => assert(!new java.io.File(new java.net.URI(p).getPath).exists(),
      s"$p should be physically gone"))
    // current data reads identically after expiry
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == before)
    // time travel to expired snapshots is loudly gone
    assert(intercept[IllegalArgumentException] {
      IcebergScan.read(spark, dir, snapshotAsOf = Some(1L)).count()
    }.getMessage.contains("not found"))
    // appends still work on the trimmed table
    IcebergWrite.append(spark, Seq((9L, "z")).toDF("id", "v"), dir)
    assert(IcebergScan.read(spark, dir).count() == 3L)
    // nothing left to expire below keepLast
    assert(IcebergWrite.expireSnapshots(spark, dir, keepLast = 5) == ((0, Seq.empty)))
  }

  test("deleteWhere on a RELATIVE tablePath: deletes still apply (qualified path namespace)") {
    // regression: victims' file_path comes from _metadata (absolute
    // URI); with a relative tablePath the planner's data-file keys must
    // be qualified to the same namespace or the position deletes are
    // silently ignored and deleted rows resurface
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = "target/graft-ice-rel/t"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("target/graft-ice-rel"))
    IcebergWrite.create(spark, Seq((1L, "keep"), (2L, "kill")).toDF("id", "v"), dir)
    assert(IcebergWrite.deleteWhere(spark, dir, col("v") === "kill") == 1L)
    val rows = IcebergScan.read(spark, dir).collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(1L), s"deleted row resurfaced on relative-path table: $rows")
  }

  test("readChanges: snapshot-diff increments; vanished files fail loudly") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_cdc").toString
    IcebergWrite.create(spark, Seq((1L, "x"), (2L, "y")).toDF("id", "v"), dir)
    IcebergWrite.append(spark, Seq((3L, "z")).toDF("id", "v"), dir)
    IcebergWrite.append(spark, Seq((4L, "w")).toDF("id", "v"), dir)
    def ids(from: Long, to: Long) =
      IcebergScan.readChanges(spark, dir, from, to)
        .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(1L, 3L) == Set(3L, 4L))
    assert(ids(2L, 3L) == Set(4L))
    assert(ids(3L, 3L) == Set.empty[Long])
    assert(IcebergScan.readChanges(spark, dir, 3L, 3L).columns.toSeq == Seq("id", "v"))
    // reversed range: the newer snapshot's files "disappear" → loud
    assert(intercept[IllegalArgumentException] { ids(3L, 1L) }
      .getMessage.contains("not an append-only increment"))
    // unknown snapshot is loud
    intercept[IllegalArgumentException] { ids(1L, 99L) }
  }

  test("EXTERNAL transform-partitioned table: flat paths, partition values only in manifests — reads + prunes") {
    import graft.sources.IcebergScan
    import org.apache.spark.sql.functions.{col, lit, to_timestamp}
    import spark.implicits._
    // an external writer's layout: NO hive segments, transform values
    // live only in the manifest partition records
    val dir = Files.createTempDirectory("graft_ice_ext_tr")
    val meta = dir.resolve("metadata")
    Files.createDirectories(meta)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      writeDataFile(Seq((1L, ts("2021-03-05 10:00:00"))).toDF("id", "ts"),
        dir, "data/00000-0-aaa.parquet")
      writeDataFile(Seq((5L, ts("2022-01-15 08:30:00"))).toDF("id", "ts"),
        dir, "data/00001-0-bbb.parquet")
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")

    val extEntry = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |  {"name":"content","type":"int","default":0},
        |  {"name":"file_path","type":"string"},
        |  {"name":"file_format","type":"string"},
        |  {"name":"partition","type":{"type":"record","name":"r102","fields":[
        |    {"name":"ts_day","type":["null",{"type":"int","logicalType":"date"}],"default":null},
        |    {"name":"id_bucket","type":["null","int"],"default":null}]}},
        |  {"name":"record_count","type":"long"}]}}]}""".stripMargin)
    def extRow(path: String, day: Int, bucket: Int): GenericRecord = {
      val dfr = new GenericData.Record(extEntry.getField("data_file").schema())
      dfr.put("content", 0)
      dfr.put("file_path", path)
      dfr.put("file_format", "PARQUET")
      val part = new GenericData.Record(
        extEntry.getField("data_file").schema().getField("partition").schema())
      part.put("ts_day", day)
      part.put("id_bucket", bucket)
      dfr.put("partition", part)
      dfr.put("record_count", 1L)
      val e = new GenericData.Record(extEntry)
      e.put("status", 1)
      e.put("data_file", dfr)
      e
    }
    val b1 = graft.sources.IcebergTransforms.bucketOf(
      org.apache.spark.sql.types.LongType, 1L, 4)
    val b5 = graft.sources.IcebergTransforms.bucketOf(
      org.apache.spark.sql.types.LongType, 5L, 4)
    writeAvro(meta.resolve("m1.avro"), extEntry, Seq(
      extRow(s"$dir/data/00000-0-aaa.parquet",
        java.time.LocalDate.of(2021, 3, 5).toEpochDay.toInt, b1),
      extRow(s"$dir/data/00001-0-bbb.parquet",
        java.time.LocalDate.of(2022, 1, 15).toEpochDay.toInt, b5)))
    writeAvro(meta.resolve("l1.avro"), listSchema,
      Seq(listEntry(s"$dir/metadata/m1.avro")))
    val schemaJson =
      """{"type":"struct","schema-id":0,"fields":[
        |{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"ts","required":false,"type":"timestamp"}]}""".stripMargin
    Files.write(meta.resolve("v1.metadata.json"),
      s"""{"format-version":2,"table-uuid":"ext1","location":"$dir",
         |"current-schema-id":0,"schemas":[$schemaJson],
         |"partition-specs":[{"spec-id":0,"fields":[
         |  {"name":"ts_day","transform":"day","source-id":2,"field-id":1000},
         |  {"name":"id_bucket","transform":"bucket[4]","source-id":1,"field-id":1001}]}],
         |"default-spec-id":0,
         |"current-snapshot-id":1,
         |"snapshots":[{"snapshot-id":1,"manifest-list":"$dir/metadata/l1.avro"}]}"""
        .stripMargin.replaceAll("\n", "").getBytes(StandardCharsets.UTF_8))
    Files.write(meta.resolve("version-hint.text"), "1".getBytes(StandardCharsets.UTF_8))

    // full read: both rows, source columns straight from the flat files
    assert(IcebergScan.read(spark, dir.toString).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 5L))
    // day pruning from MANIFEST records only (no path hints at all);
    // iceberg `timestamp` is NTZ — the literal must be NTZ-typed too
    // (a tz-typed literal would cast the ATTRIBUTE and defeat pruning)
    val dayRead = IcebergScan.read(spark, dir.toString, skippingFilter = Some(
      col("ts") >= lit("2022-01-01 00:00:00").cast("timestamp_ntz")))
    assert(dayRead.inputFiles.toSeq.forall(_.contains("00001-0-bbb")),
      s"day prune leaked: ${dayRead.inputFiles.toSeq}")
    assert(dayRead.collect().map(_.getLong(0)).toSeq == Seq(5L))
    // bucket pruning by key equality
    val idRead = IcebergScan.read(spark, dir.toString,
      skippingFilter = Some(col("id") === 1L))
    assert(idRead.inputFiles.toSeq.forall(_.contains("00000-0-aaa")),
      s"bucket prune leaked: ${idRead.inputFiles.toSeq}")
    assert(idRead.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("IcebergWrite: concurrent commit to the same version fails loudly") {
    import graft.sources.IcebergWrite
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_conc").toString
    val a = Seq((1L, "x")).toDF("id", "v")
    IcebergWrite.create(spark, a, dir) // v1 committed
    val metaPath = java.nio.file.Paths.get(s"$dir/metadata/v1.metadata.json")
    val before = java.nio.file.Files.readString(metaPath)
    // a racing writer with a stale version hint targets v1 too
    val e = intercept[java.util.ConcurrentModificationException] {
      IcebergWrite.commitAt(spark, a, dir, version = 1)
    }
    assert(e.getMessage.contains("concurrent Iceberg commit"))
    assert(java.nio.file.Files.readString(metaPath) == before)
  }

  test("appendWithRetry: two racing Iceberg writers interleave without loss or cross-claimed rows") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_retry").toString
    IcebergWrite.create(spark, Seq((-1L, "seed")).toDF("id", "v"), dir)
    // two writers, five appends each, racing on metadata versions — every
    // row must land exactly once (a writer's file set must never include
    // the other writer's in-flight files)
    val writers = (0 until 2).map { w =>
      Future {
        (0 until 5).foreach { i =>
          IcebergWrite.appendWithRetry(spark,
            Seq((w * 10L + i, s"w$w")).toDF("id", "v"), dir, maxRetries = 20)
        }
      }
    }
    writers.foreach(Await.result(_, 120.seconds))
    val hint = java.nio.file.Paths.get(dir, "metadata", "version-hint.text")
    assert(java.nio.file.Files.readString(hint).trim == "11") // create + 10 appends
    val rows = IcebergScan.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == 11) // exactly once each — no dupes, no loss
    assert(rows.map(_._1).toSet ==
      (Set(-1L) ++ (0 until 5).map(_.toLong) ++ (0 until 5).map(_ + 10L)))
    // no writer-private staging dir or shared Spark job-temp dir survives
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith(".staging-")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "data", "_temporary")))
  }
  import spark.implicits._

  private val entrySchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":"int","default":0},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"record_count","type":"long"},
      |  {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}]}}]}"""
      .stripMargin)

  private val listSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"content","type":"int","default":0},
      |{"name":"sequence_number","type":["null","long"],"default":null}]}""".stripMargin)

  private def writeAvro(path: Path, schema: Schema, records: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, path.toFile)
    records.foreach(w.append)
    w.close()
  }

  private def entry(status: Int, filePath: String, rows: Long, content: Int = 0,
                    seq: Option[Long] = None, eqIds: Seq[Int] = Seq.empty): GenericRecord = {
    val df = new GenericData.Record(entrySchema.getField("data_file").schema())
    df.put("content", content)
    df.put("file_path", filePath)
    df.put("file_format", "PARQUET")
    df.put("record_count", rows)
    if (eqIds.nonEmpty) {
      val l = new java.util.ArrayList[Integer]()
      eqIds.foreach(i => l.add(Int.box(i)))
      df.put("equality_ids", l)
    }
    val e = new GenericData.Record(entrySchema)
    e.put("status", status)
    seq.foreach(s => e.put("sequence_number", Long.box(s)))
    e.put("data_file", df)
    e
  }

  private def listEntry(manifestPath: String, content: Int = 0,
                        seq: Option[Long] = None): GenericRecord = {
    val r = new GenericData.Record(listSchema)
    r.put("manifest_path", manifestPath)
    r.put("manifest_length", 100L)
    r.put("content", content)
    seq.foreach(s => r.put("sequence_number", Long.box(s)))
    r
  }

  private def writeDataFile(df: DataFrame, tableDir: Path, relPath: String): Unit = {
    val tmp = Files.createTempDirectory("graft_ice_part").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    val dest = tableDir.resolve(relPath)
    Files.createDirectories(dest.getParent)
    Files.move(part, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private val icebergSchemaJson =
    """{"type":"struct","schema-id":0,"fields":[
      |{"id":1,"name":"id","required":false,"type":"long"},
      |{"id":2,"name":"v","required":false,"type":"string"}]}""".stripMargin

  /** Two snapshots: s1 = {f0, f1}; s2 = f1 deleted, f2 added. */
  private def buildTable(): Path = {
    val dir = Files.createTempDirectory("graft_iceberg")
    dir.toFile.deleteOnExit()
    val meta = dir.resolve("metadata")
    Files.createDirectories(meta)
    writeDataFile(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, "data/f0.parquet")
    writeDataFile(Seq((3L, "c")).toDF("id", "v"), dir, "data/f1.parquet")
    writeDataFile(Seq((4L, "d")).toDF("id", "v"), dir, "data/f2.parquet")
    writeAvro(meta.resolve("m1.avro"), entrySchema,
      Seq(entry(1, s"$dir/data/f0.parquet", 2), entry(1, s"$dir/data/f1.parquet", 1)))
    writeAvro(meta.resolve("m2.avro"), entrySchema,
      Seq(entry(0, s"$dir/data/f0.parquet", 2), entry(2, s"$dir/data/f1.parquet", 1),
        entry(1, s"$dir/data/f2.parquet", 1)))
    writeAvro(meta.resolve("l1.avro"), listSchema, Seq(listEntry(s"$dir/metadata/m1.avro")))
    writeAvro(meta.resolve("l2.avro"), listSchema, Seq(listEntry(s"$dir/metadata/m2.avro")))
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"u1","location":"$dir",
         |"current-schema-id":0,"schemas":[$icebergSchemaJson],
         |"current-snapshot-id":2,
         |"snapshots":[
         | {"snapshot-id":1,"manifest-list":"$dir/metadata/l1.avro"},
         | {"snapshot-id":2,"manifest-list":"$dir/metadata/l2.avro"}]}""".stripMargin
    Files.write(meta.resolve("v1.metadata.json"),
      metadataJson.getBytes(StandardCharsets.UTF_8))
    Files.write(meta.resolve("version-hint.text"), "1".getBytes(StandardCharsets.UTF_8))
    dir
  }

  test("manifest replay: current snapshot honors deleted entries; snapshotAsOf time-travels") {
    val dir = buildTable()
    val now = IcebergScan.read(spark, dir.toString)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(now == Seq((1L, "a"), (2L, "b"), (4L, "d"))) // f1 deleted in s2
    val s1 = IcebergScan.read(spark, dir.toString, snapshotAsOf = Some(1L))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(s1 == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("schema conversion covers the spec's type names") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(
      """{"type":"struct","schema-id":0,"fields":[
        |{"id":1,"name":"b","required":true,"type":"boolean"},
        |{"id":2,"name":"i","required":false,"type":"int"},
        |{"id":3,"name":"d","required":false,"type":"decimal(10, 2)"},
        |{"id":4,"name":"ts","required":false,"type":"timestamptz"},
        |{"id":5,"name":"arr","required":false,
        | "type":{"type":"list","element-id":6,"element":"string","element-required":false}},
        |{"id":7,"name":"kv","required":false,
        | "type":{"type":"map","key-id":8,"key":"string","value-id":9,"value":"long","value-required":true}},
        |{"id":10,"name":"s","required":false,"type":{"type":"struct","fields":[
        |  {"id":11,"name":"x","required":true,"type":"double"}]}}]}""".stripMargin)
    val st = IcebergScan.sparkSchema(node)
    assert(st == StructType(Seq(
      StructField("b", BooleanType, nullable = false),
      StructField("i", IntegerType),
      StructField("d", DecimalType(10, 2)),
      StructField("ts", TimestampType),
      StructField("arr", ArrayType(StringType, containsNull = true)),
      StructField("kv", MapType(StringType, LongType, valueContainsNull = false)),
      StructField("s", StructType(Seq(StructField("x", DoubleType, nullable = false)))))))
  }

  /** A v2 table with row-level deletes:
    *  - f0 (seq 1, ids 0..9), f1 (seq 1, ids 10..14), f2 (seq 3, ids 20..22
    *    plus a NULL-v row)
    *  - positional delete file (seq 2): f0 pos 2 and 5, f1 pos 0, and a
    *    STALE entry naming f2 pos 0 (delete.seq 2 < data.seq 3 → ignored)
    *  - equality delete file (seq 2) on field id 2 (`v`): "r3", NULL
    *    → applies to f0/f1 (seq 1) but NOT to f2 (seq 3)
    */
  private def buildDeleteTable(): Path = {
    val dir = Files.createTempDirectory("graft_iceberg_del")
    dir.toFile.deleteOnExit()
    val meta = dir.resolve("metadata")
    Files.createDirectories(meta)
    val f0 = spark.range(0, 10).select(col("id"), concat(lit("r"), col("id")).as("v"))
    val f1 = spark.range(10, 15).select(col("id"), concat(lit("r"), col("id")).as("v"))
      .union(Seq((98L, null: String)).toDF("id", "v"))
    val f2 = spark.range(20, 23).select(col("id"), concat(lit("r"), col("id")).as("v"))
      .union(Seq((99L, null: String)).toDF("id", "v"))
    writeDataFile(f0, dir, "data/f0.parquet")
    writeDataFile(f1, dir, "data/f1.parquet")
    writeDataFile(f2, dir, "data/f2.parquet")
    writeDataFile(Seq(
      (s"$dir/data/f0.parquet", 2L), (s"$dir/data/f0.parquet", 5L),
      (s"$dir/data/f1.parquet", 0L), (s"$dir/data/f2.parquet", 0L))
      .toDF("file_path", "pos"), dir, "data/pd0.parquet")
    writeDataFile(Seq(Tuple1("r3"), Tuple1(null: String)).toDF("v"), dir, "data/eq0.parquet")

    writeAvro(meta.resolve("md.avro"), entrySchema, Seq(
      entry(1, s"$dir/data/f0.parquet", 10, seq = Some(1L)),
      entry(1, s"$dir/data/f1.parquet", 6, seq = Some(1L)),
      entry(1, s"$dir/data/f2.parquet", 4, seq = Some(3L))))
    writeAvro(meta.resolve("mdel.avro"), entrySchema, Seq(
      entry(1, s"$dir/data/pd0.parquet", 4, content = 1, seq = Some(2L)),
      entry(1, s"$dir/data/eq0.parquet", 2, content = 2, seq = Some(2L), eqIds = Seq(2))))
    writeAvro(meta.resolve("ld.avro"), listSchema, Seq(
      listEntry(s"$dir/metadata/md.avro"),
      listEntry(s"$dir/metadata/mdel.avro", content = 1, seq = Some(2L))))
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"u2","location":"$dir",
         |"current-schema-id":0,"schemas":[$icebergSchemaJson],
         |"current-snapshot-id":1,
         |"snapshots":[{"snapshot-id":1,"manifest-list":"$dir/metadata/ld.avro"}]}"""
        .stripMargin
    Files.write(meta.resolve("v1.metadata.json"),
      metadataJson.getBytes(StandardCharsets.UTF_8))
    Files.write(meta.resolve("version-hint.text"), "1".getBytes(StandardCharsets.UTF_8))
    dir
  }

  test("v2 deletes: positional (seq-gated) + null-safe equality deletes apply") {
    val dir = buildDeleteTable()
    val out = IcebergScan.read(spark, dir.toString)
      .orderBy("id").select("id").as[Long].collect().toSeq
    // f0 loses pos 2,5 (ids 2,5) and v="r3" (id 3); f1 loses pos 0 (id 10)
    // and its NULL-v row 98 (null-safe equality); f2 keeps EVERYTHING: its
    // pos-delete entry is stale (seq 2 < 3) and the equality delete (seq 2)
    // does not reach seq-3 data — including f2's own NULL-v row 99
    assert(out == Seq(0L, 1L, 4L, 6L, 7L, 8L, 9L, 11L, 12L, 13L, 14L, 20L, 21L, 22L, 99L))
  }

  test("equality delete naming an unknown field id fails loudly") {
    val dir = buildDeleteTable()
    val meta = dir.resolve("metadata")
    writeAvro(meta.resolve("mdel.avro"), entrySchema, Seq(
      entry(1, s"$dir/data/eq0.parquet", 2, content = 2, seq = Some(2L), eqIds = Seq(42))))
    val e = intercept[IllegalArgumentException] { IcebergScan.read(spark, dir.toString) }
    assert(e.getMessage.contains("field id 42"))
  }

  test("Tidier.read(format=iceberg) falls back to the built-in reader without a connector") {
    val dir = buildTable()
    val out = Tidier.read(spark, dir.toString, "iceberg").df
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "a"), (2L, "b"), (4L, "d")))
  }

  test("renameColumn: field-id reads make renames rewrite-free; eq deletes keep applying") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_rename").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "tag", "score"), dir)
    IcebergWrite.append(spark, Seq((3L, "c", 30L)).toDF("id", "tag", "score"), dir)
    // an equality delete on a column we are ABOUT to rename
    assert(IcebergWrite.deleteEqual(spark, dir, Seq(20L).toDF("score")) == 1L)
    def dataFiles(): Set[String] = java.nio.file.Files.walk(
      java.nio.file.Paths.get(dir, "data")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSet
    val before = dataFiles()

    IcebergWrite.renameColumn(spark, dir, "score", "points")
    assert(dataFiles() == before, "rename must move zero data")
    // old files resolve the renamed column BY FIELD ID; the pre-rename
    // equality delete still kills id=2
    assert(IcebergScan.read(spark, dir).columns.toSeq == Seq("id", "tag", "points"))
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq == Seq((1L, 10L), (3L, 30L)))

    // appends under the NEW logical name keep the same field id
    IcebergWrite.append(spark, Seq((4L, "d", 40L)).toDF("id", "tag", "points"), dir)
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((1L, 10L), (3L, 30L), (4L, 40L)))
    // DML on the renamed column works (victims located through id reads)
    assert(IcebergWrite.updateWhere(spark, dir, col("points") === 10L,
      Seq("points" -> (col("points") + 5L))) == 1L)
    assert(IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((1L, 15L), (3L, 30L), (4L, 40L)))

    // guard rails: duplicate/unknown names
    intercept[IllegalArgumentException](IcebergWrite.renameColumn(spark, dir, "id", "tag"))
    intercept[IllegalArgumentException](IcebergWrite.renameColumn(spark, dir, "nope", "x"))
  }

  test("renameColumn refuses partition columns and tables without the field-id marker") {
    import graft.sources.IcebergWrite
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_ren_part").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "en", 10L)).toDF("id", "lang", "n"), dir,
      partitionBy = Seq("lang"))
    val e1 = intercept[IllegalArgumentException](
      IcebergWrite.renameColumn(spark, dir, "lang", "l2"))
    assert(e1.getMessage.contains("partition column"))
    // non-partition columns rename fine on a partitioned table
    IcebergWrite.renameColumn(spark, dir, "n", "cnt")
    assert(graft.sources.IcebergScan.read(spark, dir).columns.toSeq ==
      Seq("id", "lang", "cnt"))

    // a table whose metadata lacks the marker (pre-stamping vintage) refuses
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ice_ren_old").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "a")).toDF("id", "tag"), dir2)
    val mp = java.nio.file.Paths.get(dir2, "metadata", "v1.metadata.json")
    val stripped = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
      .replace("\"graft.write.field-ids\":\"true\"", "\"graft.noop\":\"x\"")
    java.nio.file.Files.write(mp, stripped.getBytes("UTF-8"))
    // drop the local-FS checksum sidecar the hand edit invalidated
    java.nio.file.Files.deleteIfExists(
      mp.getParent.resolve(".v1.metadata.json.crc"))
    val e2 = intercept[IllegalArgumentException](
      IcebergWrite.renameColumn(spark, dir2, "tag", "label"))
    assert(e2.getMessage.contains("field ids"))
  }

  test("dropColumn: bytes vanish without rewrite; re-added name never resurrects them") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_drop").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "tag", "score"), dir)
    def dataFiles(): Set[String] = java.nio.file.Files.walk(
      java.nio.file.Paths.get(dir, "data")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSet
    val before = dataFiles()
    IcebergWrite.dropColumn(spark, dir, "score")
    assert(dataFiles() == before, "drop must move zero data")
    assert(IcebergScan.read(spark, dir).columns.toSeq == Seq("id", "tag"))

    // re-add the same LOGICAL name: fresh field id, old bytes stay dead
    IcebergWrite.appendEvolve(spark, Seq((3L, "c", 999L)).toDF("id", "tag", "score"), dir)
    val got = IcebergScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq((1L, -1L), (2L, -1L), (3L, 999L)),
      s"old physical score must NOT resurface, got $got")

    // a live equality delete referencing the column blocks the drop
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ice_drop_eq").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, 5L), (2L, 6L)).toDF("id", "k"), dir2)
    IcebergWrite.deleteEqual(spark, dir2, Seq(5L).toDF("k"))
    val e = intercept[IllegalArgumentException](IcebergWrite.dropColumn(spark, dir2, "k"))
    assert(e.getMessage.contains("equality-delete"))
    // dropping the OTHER column is fine — and then 'k' refuses again
    // (still eq-referenced, and now also the last column)
    IcebergWrite.dropColumn(spark, dir2, "id")
    assert(graft.sources.IcebergScan.read(spark, dir2).columns.toSeq == Seq("k"))
    intercept[IllegalArgumentException](IcebergWrite.dropColumn(spark, dir2, "k"))
  }

  test("streams decode RENAMED tables: Iceberg by field id, Delta by physicalName") {
    import graft.sources.{DeltaWrite, IcebergWrite}
    import spark.implicits._
    // Iceberg: pre-rename files must decode the renamed column by id
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_ren_stream").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("graft_ice_ren_stream_ck").toString
    IcebergWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), dir)
    IcebergWrite.renameColumn(spark, dir, "tag", "label")
    val delivered = scala.collection.mutable.ListBuffer[(Long, String)]()
    val q = spark.readStream
      .format(classOf[graft.streaming.IcebergStreamProvider].getName)
      .load(dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        assert(b.columns.toSeq == Seq("id", "label"))
        val rows = b.collect().map(r => (r.getLong(0), r.getString(1)))
        delivered.synchronized { delivered ++= rows }
        ()
      }.start()
    try {
      q.processAllAvailable()
      IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "label"), dir)
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.toSet) ==
        Set((1L, "a"), (2L, "b"), (3L, "c")),
        s"renamed column must decode by id, got ${delivered.toSet}")
    } finally q.stop()

    // Delta: mapped table files carry physical names
    val dir2 = java.nio.file.Files.createTempDirectory("graft_delta_ren_stream").toString + "/t"
    val ck2 = java.nio.file.Files.createTempDirectory("graft_delta_ren_stream_ck").toString
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), dir2)
    DeltaWrite.renameColumn(spark, dir2, "tag", "label")
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "label"), dir2)
    val delivered2 = scala.collection.mutable.ListBuffer[(Long, String)]()
    val q2 = spark.readStream
      .format(classOf[graft.streaming.DeltaStreamProvider].getName)
      .load(dir2)
      .writeStream.option("checkpointLocation", ck2)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        assert(b.columns.toSeq == Seq("id", "label"))
        val rows = b.collect().map(r => (r.getLong(0), r.getString(1)))
        delivered2.synchronized { delivered2 ++= rows }
        ()
      }.start()
    try {
      q2.processAllAvailable()
      assert(delivered2.synchronized(delivered2.toSet) ==
        Set((1L, "a"), (2L, "b"), (3L, "c")),
        s"mapped columns must decode by physicalName, got ${delivered2.toSet}")
    } finally q2.stop()
  }

  test("metadata tables + timestamp travel: snapshots/files reflect DML, travel picks by timestamp-ms") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_meta_tbl").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), dir)
    IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "tag"), dir)
    IcebergWrite.deleteWhere(spark, dir, org.apache.spark.sql.functions.col("id") === 2L)

    val snaps = IcebergScan.snapshots(spark, dir).orderBy("snapshot_id").collect()
    assert(snaps.length == 3)
    assert(snaps.map(_.getString(3)).toSeq == Seq("append", "append", "delete"))
    assert(snaps.count(_.getBoolean(5)) == 1 && snaps.last.getBoolean(5))
    val ts = snaps.map(r => (r.getLong(0), r.getLong(1)))

    val files = IcebergScan.files(spark, dir).collect()
    assert(files.count(_.getString(1) == "data") >= 1)
    assert(files.count(_.getString(1) == "position-deletes") == 1)

    // timestamp travel: at snapshot-2's stamp the delete hasn't happened
    assert(IcebergScan.readTimestampAsOf(spark, dir, ts(1)._2).count() == 3L)
    assert(IcebergScan.readTimestampAsOf(spark, dir, System.currentTimeMillis() + 60000)
      .count() == 2L)
    intercept[IllegalArgumentException](
      IcebergScan.readTimestampAsOf(spark, dir, ts(0)._2 - 1000000L))

    // partitioned table: files carries partition values
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ice_meta_tbl2").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "en"), (2L, "de")).toDF("id", "lang"), dir2,
      partitionBy = Seq("lang"))
    val parts = IcebergScan.files(spark, dir2).collect()
      .map(_.getMap[String, String](4).get("lang").orNull).toSet
    assert(parts == Set("en", "de"))
  }

  test("tags: named refs read, survive expireSnapshots, and drop cleanly") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_tags").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "a")).toDF("id", "tag"), dir)   // snap 1
    IcebergWrite.append(spark, Seq((2L, "b")).toDF("id", "tag"), dir)  // snap 2
    IcebergWrite.tagSnapshot(spark, dir, "v1.0", 1L)
    IcebergWrite.append(spark, Seq((3L, "c")).toDF("id", "tag"), dir)  // snap 4
    IcebergWrite.append(spark, Seq((4L, "d")).toDF("id", "tag"), dir)  // snap 5

    assert(IcebergScan.readRef(spark, dir, "v1.0").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(IcebergScan.read(spark, dir).count() == 4L)

    // expire keeps the tagged snapshot alive even though it is oldest
    val (expired, _) = IcebergWrite.expireSnapshots(spark, dir, keepLast = 1)
    assert(expired >= 1)
    assert(IcebergScan.readRef(spark, dir, "v1.0").collect().map(_.getLong(0)).toSeq == Seq(1L),
      "tag-pinned snapshot must survive expiry")
    assert(IcebergScan.read(spark, dir).count() == 4L)

    // guards: duplicate tag, missing snapshot, unknown ref
    intercept[IllegalArgumentException](IcebergWrite.tagSnapshot(spark, dir, "v1.0", 1L))
    intercept[IllegalArgumentException](IcebergWrite.tagSnapshot(spark, dir, "vX", 999L))
    intercept[IllegalArgumentException](IcebergScan.readRef(spark, dir, "nope"))

    // drop the tag: ref gone, snapshot now expirable
    IcebergWrite.dropRef(spark, dir, "v1.0")
    intercept[IllegalArgumentException](IcebergScan.readRef(spark, dir, "v1.0"))
    IcebergWrite.expireSnapshots(spark, dir, keepLast = 1)
    intercept[Exception](IcebergScan.read(spark, dir, snapshotAsOf = Some(1L)).count())
  }

  test("branches: write-audit-publish — appends invisible on main until fastForward") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_wap").toString + "/t"
    IcebergWrite.create(spark, Seq((1L, "a")).toDF("id", "tag"), dir)
    IcebergWrite.append(spark, Seq((2L, "b")).toDF("id", "tag"), dir)

    // two staged commits on the audit branch
    IcebergWrite.appendToBranch(spark, Seq((3L, "c")).toDF("id", "tag"), dir, "audit")
    IcebergWrite.appendToBranch(spark, Seq((4L, "d")).toDF("id", "tag"), dir, "audit")
    // main is untouched; the branch sees the staged rows CHAINED on main
    assert(IcebergScan.read(spark, dir).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(IcebergScan.readRef(spark, dir, "audit").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L))
    // a main append DURING the audit does not disturb the branch —
    // and publishing the now-STALE branch refuses (it would silently
    // drop main's newer rows)
    IcebergWrite.append(spark, Seq((9L, "z")).toDF("id", "tag"), dir)
    assert(IcebergScan.read(spark, dir).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 9L))
    assert(IcebergScan.readRef(spark, dir, "audit").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L))
    val eDiv = intercept[IllegalArgumentException](
      IcebergWrite.fastForward(spark, dir, "audit"))
    assert(eDiv.getMessage.contains("drop"), s"diverged publish must refuse: $eDiv")
    assert(IcebergScan.read(spark, dir).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 9L), "refused publish must change nothing")

    // re-stage from the CURRENT state, then publish fast-forwards
    IcebergWrite.dropRef(spark, dir, "audit")
    IcebergWrite.appendToBranch(spark, Seq((3L, "c")).toDF("id", "tag"), dir, "audit")
    IcebergWrite.appendToBranch(spark, Seq((4L, "d")).toDF("id", "tag"), dir, "audit")
    IcebergWrite.fastForward(spark, dir, "audit")
    assert(IcebergScan.read(spark, dir).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L, 9L))

    // branch heads are expiry-pinned; guards hold
    IcebergWrite.expireSnapshots(spark, dir, keepLast = 1)
    assert(IcebergScan.readRef(spark, dir, "audit").count() == 5L)
    intercept[IllegalArgumentException](
      IcebergWrite.appendToBranch(spark, Seq((5L, "e")).toDF("id", "tag"), dir, "main"))
    IcebergWrite.tagSnapshot(spark, dir,
      "rel", IcebergScan.snapshots(spark, dir).orderBy("snapshot_id")
        .collect().last.getLong(0))
    intercept[IllegalArgumentException](
      IcebergWrite.appendToBranch(spark, Seq((5L, "e")).toDF("id", "tag"), dir, "rel"))
    intercept[IllegalArgumentException](IcebergWrite.fastForward(spark, dir, "rel"))
    intercept[IllegalArgumentException](
      IcebergWrite.appendToBranch(spark, Seq((5L, 5L)).toDF("id", "n"), dir, "audit"))
  }

  test("streaming x WAP: branch commits emit nothing; fastForward emits the staged rows once") {
    import graft.sources.IcebergWrite
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_wap_stream").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("graft_ice_wap_stream_ck").toString
    IcebergWrite.create(spark, Seq((1L, "a")).toDF("id", "tag"), dir)
    val delivered = scala.collection.mutable.ListBuffer[Long]()
    val q = spark.readStream
      .format(classOf[graft.streaming.IcebergStreamProvider].getName)
      .load(dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = b.collect().map(_.getLong(0))
        delivered.synchronized { delivered ++= rows }
        ()
      }.start()
    try {
      q.processAllAvailable()
      // staged-but-unpublished data must NOT reach the consumer
      IcebergWrite.appendToBranch(spark, Seq((2L, "b")).toDF("id", "tag"), dir, "audit")
      IcebergWrite.appendToBranch(spark, Seq((3L, "c")).toDF("id", "tag"), dir, "audit")
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.toSet) == Set(1L),
        s"unpublished branch rows leaked: ${delivered.toSet}")
      // publish: the staged rows arrive, exactly once
      IcebergWrite.fastForward(spark, dir, "audit")
      q.processAllAvailable()
      assert(delivered.synchronized(delivered.sorted.toSeq) == Seq(1L, 2L, 3L),
        s"publish must emit staged rows exactly once, got ${delivered.sorted}")
    } finally q.stop()
  }

  test("sort orders: setSortOrder registers metadata; appends + compact honor and stamp it; kept claims carry") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_sort").toString
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def meta(): com.fasterxml.jackson.databind.JsonNode = {
      val v = new String(Files.readAllBytes(
        Paths.get(s"$dir/metadata/version-hint.text")), StandardCharsets.UTF_8).trim
      mapper.readTree(new String(Files.readAllBytes(
        Paths.get(s"$dir/metadata/v$v.metadata.json")), StandardCharsets.UTF_8))
    }
    def fileOrders(): Map[String, Option[Int]] =
      IcebergScan.files(spark, dir).collect()
        .filter(_.getString(1) == "data")
        .map(r => r.getString(0) -> Option(r.get(5)).map(_.toString.toInt)).toMap

    IcebergWrite.create(spark,
      Seq((3L, "c", 30L), (1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "k"), dir)
    // before any order is set: files claim nothing
    assert(fileOrders().values.forall(_.isEmpty))

    // register "k desc, id" and make it the default — metadata-only
    IcebergWrite.setSortOrder(spark, dir, Seq("k desc nulls-last", "id"))
    val m1 = meta()
    assert(m1.get("default-sort-order-id").asInt() == 1)
    val orders = m1.get("sort-orders").elements().asScala.toSeq
    assert(orders.map(_.get("order-id").asInt()) == Seq(0, 1))
    val f1 = orders(1).get("fields").elements().asScala.toSeq
    assert(f1.size == 2)
    assert(f1(0).get("transform").asText() == "identity" &&
      f1(0).get("source-id").asInt() == 3 &&
      f1(0).get("direction").asText() == "desc" &&
      f1(0).get("null-order").asText() == "nulls-last")
    assert(f1(1).get("direction").asText() == "asc" &&
      f1(1).get("null-order").asText() == "nulls-first")
    // idempotent: identical fields reuse the registered order
    IcebergWrite.setSortOrder(spark, dir, Seq("k desc nulls-last", "id"))
    assert(meta().get("sort-orders").size() == 2 &&
      meta().get("default-sort-order-id").asInt() == 1)

    // an append now honors the order: file stamped AND physically sorted
    IcebergWrite.append(spark,
      Seq((6L, "f", 55L), (4L, "d", 77L), (5L, "e", 55L)).toDF("id", "v", "k")
        .repartition(1), dir)
    val afterAppend = fileOrders()
    val stamped = afterAppend.filter(_._2.contains(1)).keys.toSeq
    assert(stamped.size == 1, s"expected 1 stamped file, got $afterAppend")
    assert(afterAppend.values.count(_.isEmpty) >= 1) // the create-time file claims nothing
    val sortedRows = spark.read.parquet(stamped.head)
      .select("id", "k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sortedRows == Seq((4L, 77L), (5L, 55L), (6L, 55L)),
      s"file rows must be sorted by (k desc, id asc): $sortedRows")

    // compact rewrites EVERYTHING into the order and stamps it
    val (picked, written) = IcebergWrite.compact(spark, dir,
      smallFileBytes = Long.MaxValue, targetFiles = 1)
    assert(picked >= 2 && written == 1)
    val afterCompact = fileOrders()
    assert(afterCompact.values.forall(_.contains(1)), s"compact must stamp: $afterCompact")
    val compacted = spark.read.parquet(afterCompact.keys.head)
      .select("id", "k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(compacted == Seq((4L, 77L), (5L, 55L), (6L, 55L), (3L, 30L), (2L, 20L), (1L, 10L)))
    assert(IcebergScan.read(spark, dir).select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L, 6L))

    // reset to unsorted: order 1 stays registered, new appends claim nothing
    IcebergWrite.setSortOrder(spark, dir, Nil)
    assert(meta().get("default-sort-order-id").asInt() == 0 &&
      meta().get("sort-orders").size() == 2)
    IcebergWrite.append(spark, Seq((7L, "g", 5L)).toDF("id", "v", "k"), dir)
    val afterReset = fileOrders()
    assert(afterReset.values.count(_.isEmpty) == 1 &&
      afterReset.values.count(_.contains(1)) == 1)

    // a DML rewrite KEEPS untouched files' claims and does not stamp
    // its own (unsorted) outputs; the sort-orders metadata survives
    val updated = IcebergWrite.updateWhere(spark, dir,
      col("id") === 7L, Seq("v" -> lit("G")))
    assert(updated == 1L)
    val afterDml = fileOrders()
    assert(afterDml.values.count(_.contains(1)) == 1,
      s"kept file must carry its ordering claim: $afterDml")
    assert(afterDml.values.count(_.isEmpty) == 1)
    assert(meta().get("sort-orders").size() == 2 &&
      meta().get("default-sort-order-id").asInt() == 0)

    // loud errors: unknown column, bad modifier, conflicting direction
    assert(intercept[IllegalArgumentException] {
      IcebergWrite.setSortOrder(spark, dir, Seq("nope"))
    }.getMessage.contains("not a column"))
    assert(intercept[IllegalArgumentException] {
      IcebergWrite.setSortOrder(spark, dir, Seq("id sideways"))
    }.getMessage.contains("unknown modifier"))
    assert(intercept[IllegalArgumentException] {
      IcebergWrite.setSortOrder(spark, dir, Seq("id asc desc"))
    }.getMessage.contains("both asc and desc"))
  }

  test("sort orders: partitioned tables sort within each partition dir; foreign transform orders are carried, not faked") {
    import graft.sources.{IcebergScan, IcebergWrite}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_sortp").toString
    IcebergWrite.create(spark,
      Seq((1L, "p1", 9L)).toDF("id", "p", "k"), dir, partitionBy = Seq("p"))
    IcebergWrite.setSortOrder(spark, dir, Seq("k"))
    IcebergWrite.append(spark,
      Seq((2L, "p1", 30L), (3L, "p1", 10L), (4L, "p2", 20L), (5L, "p2", 5L))
        .toDF("id", "p", "k"), dir)
    // each partition's appended file is sorted by k and stamped
    val entries = IcebergScan.files(spark, dir).collect()
      .filter(r => r.getString(1) == "data" && Option(r.get(5)).exists(_.toString == "1"))
    assert(entries.length == 2, s"both partition files stamped: ${entries.length}")
    entries.foreach { r =>
      val ks = spark.read.parquet(r.getString(0)).select("k")
        .collect().map(_.getLong(0)).toSeq
      assert(ks == ks.sorted, s"partition file not sorted by k: $ks")
    }
    assert(IcebergScan.read(spark, dir).count() == 5L)

    // FOREIGN default order with a transform this writer can't honor:
    // carried verbatim in metadata, but appends must NOT claim it
    val hintP = Paths.get(s"$dir/metadata/version-hint.text")
    val v = new String(Files.readAllBytes(hintP), StandardCharsets.UTF_8).trim.toInt
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(new String(Files.readAllBytes(
        Paths.get(s"$dir/metadata/v$v.metadata.json")), StandardCharsets.UTF_8))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.set[com.fasterxml.jackson.databind.JsonNode]("sort-orders", mapper.readTree(
      """[{"order-id":0,"fields":[]},{"order-id":1,"fields":[
        |{"transform":"identity","source-id":3,"direction":"asc","null-order":"nulls-first"}]},
        |{"order-id":2,"fields":[{"transform":"bucket[4]","source-id":1,
        |"direction":"asc","null-order":"nulls-first"}]}]""".stripMargin))
    node.put("default-sort-order-id", 2)
    Files.write(Paths.get(s"$dir/metadata/v${v + 1}.metadata.json"),
      node.toString.getBytes(StandardCharsets.UTF_8))
    Files.write(hintP, (v + 1).toString.getBytes(StandardCharsets.UTF_8))
    // the side-channel edit invalidates Hadoop's local-FS checksum
    Files.deleteIfExists(Paths.get(s"$dir/metadata/.version-hint.text.crc"))
    IcebergWrite.append(spark, Seq((6L, "p1", 1L)).toDF("id", "p", "k"), dir)
    val after = IcebergScan.files(spark, dir).collect()
      .filter(_.getString(1) == "data")
      .map(r => Option(r.get(5)).map(_.toString.toInt)).toSeq
    assert(after.count(_.contains(1)) == 2 && after.count(_.isEmpty) == 2,
      s"transform order must not be claimed: $after")
    // the foreign orders array survived the append verbatim
    val mAfter = mapper.readTree(new String(Files.readAllBytes(Paths.get(
      s"$dir/metadata/v${IcebergScan.latestMetadataVersion(spark, dir)}.metadata.json")),
      StandardCharsets.UTF_8))
    assert(mAfter.get("sort-orders").size() == 3 &&
      mAfter.get("default-sort-order-id").asInt() == 2)
  }
}
