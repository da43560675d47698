package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.sources.{DeltaScan, DeltaWrite, IcebergScan, IcebergWrite}

/** What a read does with its DataFrame. */
sealed trait Sink
object Sink {
  /** Full evaluation: every row and column computed, nothing written. */
  case object Noop extends Sink
  /** Full evaluation written as one parquet file per read, for checks. */
  final case class Parquet(dir: String) extends Sink
}

/** The per-operation context: the session, where the inputs are, and
  * the harness spans recorded around calls into graft. */
final class Ctx(val spark: SparkSession, val dataDir: String, val sink: Sink) {
  val calls = mutable.ArrayBuffer.empty[Span]
  /** rows the operation returned, when the workload knows them */
  var resultRows: Long = -1L

  def call[T](name: String)(body: => T): T = {
    val s = Clock.nowMs()
    try body finally calls += Span("", name, s, Clock.nowMs())
  }

  def evaluate(name: String, df: DataFrame): Unit = call("exec.run") {
    sink match {
      case Sink.Noop => df.write.format("noop").mode("overwrite").save()
      case Sink.Parquet(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
    }
  }
}

/** One benchmark operation. `kind` is `read` or `commit`. */
final case class Op(name: String, kind: String, run: Ctx => Unit)

/** A check of a program output made inside the JVM. */
final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  /** Called once, in set-up round 1: start the stream over the inputs
    * in `dataDir`, keeping any tables under `workDir`; returns the
    * operations that run before the warm pass (table creation). */
  def begin(spark: SparkSession, dataDir: String, workDir: String): Seq[Op] = Nil
  /** The warm pass of a set-up round; `first` is round 1, which also
    * warms every code path the timed passes take. */
  def warmup(first: Boolean): Seq[Op]
  /** The operations of pass `p` (1-based), in the order they run. */
  def pass(p: Int): Seq[Op]
  /** Timed passes a run makes at least, however short `--seconds`. */
  def minPasses: Int
  /** Checks on the program's state after the last pass. */
  def finish(spark: SparkSession): Seq[Check] = Nil
  /** Reads whose set-up round 1 output is checked with DuckDB. */
  def checkedOutputs: Seq[String] = Nil
  /** Table directories whose bytes the lakehouse metrics count. */
  def tableDirs: Seq[String] = Nil
  /** A digest of the operation stream the seed generated. */
  def streamDigest: String
}

/** Relational or text queries from `SparkEntry.queries`, each pass in a
  * seed-chosen order; outputs are checked outside the JVM against
  * `SparkEntry.oracleSql` through DuckDB. */
final class QueryWorkload(queries: Seq[String], seed: Long) extends Workload {
  override def checkedOutputs: Seq[String] = queries

  def warmup(first: Boolean): Seq[Op] = pass(0)

  def minPasses: Int = 3

  def pass(p: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + p).shuffle(queries).map { q =>
      Op(q, "read", ctx => {
        val df = ctx.call("verbs.build")(SparkEntry.queries(q)(ctx.spark, ctx.dataDir))
        ctx.evaluate(q, df)
      })
    }

  def streamDigest: String = queries.mkString(",")
}

/** A seed-generated commit stream over `documents`, run against one
  * Delta and one Iceberg table, with a plain-rows reference model of
  * the same stream. Each round appends new keys, merge-upserts (half
  * matched keys, half new), deletes or updates, compacts now and then,
  * and reads each table in full and pruned (`skippingFilter` on a key
  * range). */
final class LakehouseWorkload(seed: Long) extends Workload {
  import LakehouseWorkload._

  private var pool: IndexedSeq[Doc] = IndexedSeq.empty
  private var delta, iceberg: String = _
  private val model = mutable.TreeMap.empty[Long, Doc]
  private val rng = new scala.util.Random(seed)
  private var nextId = 0L
  private val digest = java.security.MessageDigest.getInstance("SHA-256")

  override def tableDirs: Seq[String] = Seq(delta, iceberg)

  override def begin(s: SparkSession, dataDir: String, workDir: String): Seq[Op] = {
    delta = s"$workDir/delta"
    iceberg = s"$workDir/iceberg"
    pool = s.read.parquet(s"$dataDir/documents.parquet").orderBy("doc_id").collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toIndexedSeq
    nextId = pool.map(_.id).max + 1
    val initial = pool.filter(_ => rng.nextDouble() < InitialShare)
    initial.foreach(d => model(d.id) = d)
    note("create", initial.map(_.id))
    Seq(Op("delta.create", "commit", commitOp(s => DeltaWrite.create(s, df(s, initial), delta))),
      Op("iceberg.create", "commit", commitOp(s => IcebergWrite.create(s, df(s, initial), iceberg))))
  }

  def pass(p: Int): Seq[Op] = round(p + 1)

  /** Stream round `r`: append and merge, then `deleteWhere` (odd rounds)
    * or `updateWhere` (even rounds), `compact` in rounds 1, 5, 9, ...,
    * then a full read and three pruned reads; first on Delta, then the
    * same commits on Iceberg. */
  private def round(r: Int): Seq[Op] = {
    val appended = (1 to AppendRows).map(_ => fresh())
    val matched = sample(MergeRows / 2).map { id =>
      val d = model(id)
      val text = s"${d.text} r$r"
      d.copy(text = text, nChars = text.length.toLong)
    }
    val upserts = matched ++ (1 to MergeRows - matched.size).map(_ => fresh())
    val deleted = if (r % 2 == 1) sample(DeleteRows) else Nil
    val updMod = if (r % 2 == 0) Some(rng.nextInt(UpdateModulus).toLong) else None
    val updSource = s"u$r"
    val compact = r % 4 == 1
    val ranges = sample(PrunedReads).map(lo => (lo, lo + PrunedSpan))
    note(s"round $r", appended.map(_.id) ++ upserts.map(_.id) ++ deleted ++ updMod ++
      ranges.map(_._1))

    appended.foreach(d => model(d.id) = d)
    upserts.foreach(d => model(d.id) = d)
    deleted.foreach(model.remove)
    updMod.foreach { m =>
      model.keys.filter(_ % UpdateModulus == m).toList.foreach { id =>
        model(id) = model(id).copy(source = updSource)
      }
    }
    val fullRows = model.size.toLong
    val pruned = ranges.map { case (lo, hi) => ((lo, hi), model.range(lo, hi + 1).size.toLong) }

    val delCond = col("doc_id").isin(deleted: _*)
    val updCond = pmod(col("doc_id"), lit(UpdateModulus.toLong)) === lit(updMod.getOrElse(0L))
    val updSet = Seq("source" -> lit(updSource))
    def ops(fmt: String, table: String, append: (SparkSession, DataFrame, String) => Any,
        merge: (SparkSession, String, DataFrame, Seq[String]) => Any,
        delete: (SparkSession, String, org.apache.spark.sql.Column) => Any,
        update: (SparkSession, String, org.apache.spark.sql.Column,
          Seq[(String, org.apache.spark.sql.Column)]) => Any,
        compactTable: (SparkSession, String) => Any): Seq[Op] =
      Seq(Op(s"$fmt.append", "commit", commitOp(s => append(s, df(s, appended), table))),
        Op(s"$fmt.merge", "commit", commitOp(s => merge(s, table, df(s, upserts), Seq("doc_id"))))) ++
        (if (deleted.nonEmpty) Seq(Op(s"$fmt.delete", "commit", commitOp(delete(_, table, delCond))))
         else Nil) ++
        (if (updMod.nonEmpty)
          Seq(Op(s"$fmt.update", "commit", commitOp(update(_, table, updCond, updSet))))
         else Nil) ++
        (if (compact) Seq(Op(s"$fmt.compact", "commit", commitOp(compactTable(_, table))))
         else Nil) ++
        reads(fmt, fullRows, pruned)
    ops("delta", delta, DeltaWrite.append(_, _, _), DeltaWrite.merge(_, _, _, _),
      DeltaWrite.deleteWhere, DeltaWrite.updateWhere, DeltaWrite.compact(_, _)) ++
      ops("iceberg", iceberg, IcebergWrite.append, IcebergWrite.merge(_, _, _, _),
        IcebergWrite.deleteWhere, IcebergWrite.updateWhere, IcebergWrite.compact(_, _))
  }

  override def finish(s: SparkSession): Seq[Check] = {
    val want = model.values.toSeq
    def rows(df: DataFrame): Seq[Doc] =
      df.select("doc_id", "text", "lang", "source", "n_chars").collect().toSeq
        .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .sortBy(_.id)
    val d = rows(DeltaScan.read(s, delta))
    val i = rows(IcebergScan.read(s, iceberg))
    def cmp(name: String, got: Seq[Doc]) = {
      val bad = got.zipAll(want, null, null).indexWhere { case (a, b) => a != b }
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(got.mkString("\n").getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
      Check(name, bad < 0,
        if (bad < 0) s"${got.size} rows, digest $sha"
        else s"${got.size} vs ${want.size} rows; first difference at row $bad: " +
          s"${got.lift(bad)} vs ${want.lift(bad)}")
    }
    Seq(cmp("delta_equals_model", d), cmp("iceberg_equals_model", i),
      Check("delta_equals_iceberg", d == i, s"${d.size} vs ${i.size} rows"))
  }

  def streamDigest: String = digest.clone().asInstanceOf[java.security.MessageDigest]
    .digest().map(b => f"$b%02x").mkString

  /** Set-up round 1 runs stream round 1 after creating the tables, and
    * is checked against the model; the other rounds open a new session
    * on the same tables and read them. Timed pass `p` is stream round
    * `p + 1`. */
  def warmup(first: Boolean): Seq[Op] =
    if (first) round(1)
    else reads("delta", model.size.toLong, Nil) ++ reads("iceberg", model.size.toLong, Nil)

  def minPasses: Int = 1

  /** A full read of one table, then one pruned read per key range, each
    * with the row count the model expects. */
  private def reads(fmt: String, fullRows: Long, pruned: Seq[((Long, Long), Long)]): Seq[Op] = {
    def open(s: SparkSession, f: Option[org.apache.spark.sql.Column]): DataFrame =
      if (fmt == "delta") DeltaScan.read(s, delta, skippingFilter = f)
      else IcebergScan.read(s, iceberg, skippingFilter = f)
    Op(s"$fmt.read_full", "read", ctx => {
      val d = ctx.call("scan.open")(open(ctx.spark, None))
      ctx.evaluate(s"$fmt.read_full", d)
      ctx.resultRows = fullRows
    }) +: pruned.map { case ((lo, hi), prunedRows) =>
      val cond = col("doc_id").between(lo, hi)
      Op(s"$fmt.read_pruned", "read", ctx => {
        val d = ctx.call("scan.open")(open(ctx.spark, Some(cond)))
        ctx.evaluate(s"$fmt.read_pruned", d.filter(cond))
        ctx.resultRows = prunedRows
      })
    }
  }

  private def commitOp(body: SparkSession => Any): Ctx => Unit =
    ctx => ctx.call("commit.call")(body(ctx.spark))

  private def note(what: String, ids: Seq[Long]): Unit =
    digest.update((what + ids.mkString(":", ",", ";")).getBytes("UTF-8"))

  private def fresh(): Doc = {
    val src = pool(rng.nextInt(pool.size))
    nextId += 1
    src.copy(id = nextId)
  }

  /** n distinct live keys, seed-chosen */
  private def sample(n: Int): Seq[Long] = {
    val keys = model.keysIterator.toIndexedSeq
    rng.shuffle(keys.indices.toList).take(n).map(keys).sorted
  }

  private def df(spark: SparkSession, rows: Seq[Doc]): DataFrame =
    spark.createDataFrame(rows.map(d => Row(d.id, d.text, d.lang, d.source, d.nChars)).asJava,
      Schema)
}

object LakehouseWorkload {
  final case class Doc(id: Long, text: String, lang: String, source: String, nChars: Long)

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val InitialShare = 0.6
  val AppendRows = 40
  val MergeRows = 40
  val DeleteRows = 15
  val UpdateModulus = 29
  val PrunedReads = 3
  val PrunedSpan = 200L
}

object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** epoch milliseconds with nanosecond resolution, on Spark's time base */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
