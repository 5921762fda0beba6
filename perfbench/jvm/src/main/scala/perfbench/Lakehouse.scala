package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}

import graft.catalog.{GraftStorage, GraftTable}

/** `lakehouse_dml`: a closed loop of one client replaying a seeded statement
  * stream (written by perfbench/run.py, one statement per line) against three
  * catalog tables seeded from `orders`, one per storage mode. Each write is
  * followed by a point read of the keys it wrote. Statements come in blocks
  * (perfbench/gen.py draws them); each block ends with a pull of every
  * table's `$changes` feed for the versions since the previous pull.
  * Flush policy: the engine's own (it forces nothing to
  * disk). Between statements, and outside every timed section, the table
  * directories are listed to count the bytes each statement created. */
object Lakehouse {
  /** name -> table properties */
  val Tables: Seq[(String, String)] = Seq(
    "lk_cow" -> "'graft.mode'='cow', 'graft.row_id'='o_orderkey'",
    "lk_mor" -> "'graft.mode'='mor', 'graft.row_id'='o_orderkey'",
    "lk_dv" -> "'graft.mode'='dv'")
  val Cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "CAST(o_orderdate AS STRING) AS o_orderdate", "o_orderpriority")

  final case class Stmt(table: String, kind: String, keys: String, sql: String)

  def run(spark: SparkSession, data: String, runDir: Path, stmtsFile: Path,
          seedRows: Int, warm: Int, block: Int, seconds: Double,
          tracer: Option[Tracer]): Map[String, Any] = {
    val stmts = Files.readAllLines(stmtsFile).asScala.filter(_.nonEmpty).map { l =>
      val Array(t, k, keys, sql) = l.split("\t", 4)
      Stmt(t, k, keys, sql)
    }.toVector
    spark.read.parquet(s"$data/orders.parquet").createOrReplaceTempView("seed_orders")
    val catalog = spark.sessionState.catalogManager.catalog("graft_cat")
      .asInstanceOf[TableCatalog]
    def dir(t: String): Path =
      catalog.loadTable(Identifier.of(Array("default"), t)).asInstanceOf[GraftTable].dir
    def version(t: String): Int = GraftStorage.readLog(dir(t)).map(_.nextVersion - 1).get

    val t0 = System.nanoTime()
    Tables.foreach { case (t, props) =>
      spark.sql(s"CREATE TABLE graft_cat.default.$t TBLPROPERTIES ($props) " +
        s"AS SELECT * FROM seed_orders WHERE o_orderkey < $seedRows")
    }
    val seedS = (System.nanoTime() - t0) / 1e9

    // Bytes each statement created: every file seen in a table directory
    // is counted once, when first seen, so files pruned later still count.
    val seen = mutable.HashMap.empty[Path, Long]
    def census(t: String): (Int, Long, Long) = {
      var files = 0; var bytes = 0L; var logBytes = 0L
      val s = Files.walk(dir(t))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        if (!seen.contains(p)) {
          val n = try Files.size(p) catch { case _: java.io.IOException => 0L }
          seen(p) = n
          if (p.getFileName.toString.startsWith("_graft_log")) logBytes += n
          else { files += 1; bytes += n }
        }
      } finally s.close()
      (files, bytes, logBytes)
    }
    def diskBytes(t: String): Long = {
      val s = Files.walk(dir(t))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => try Files.size(p) catch { case _: java.io.IOException => 0L }).sum
      finally s.close()
    }
    Tables.foreach { case (t, _) => census(t) }
    val feedFrom = mutable.Map(Tables.map { case (t, _) => t -> version(t) }: _*)

    def timed[T](kind: String, name: String, traced: Boolean)(body: => T): (Option[T], Double) = {
      val t0 = System.nanoTime()
      val r = try Some(tracer.fold(body)(_.op(spark, kind, name, traced)(body)))
        catch { case e: Exception =>
          System.err.println(s"[perfbench] $kind $name failed: ${e.getMessage}")
          None
        }
      (r, (System.nanoTime() - t0) / 1e6)
    }

    val writes, reads, feeds = ArrayBuffer.empty[Map[String, Any]]
    var mark = Host.mark()
    var start = System.nanoTime()
    var warmS = 0.0
    var i = 0
    // The first `warm` statements (every kind on every table) end the
    // set-up: executed and checked like the rest, but not timed. Then whole
    // blocks of `block` statements (each has the same mix), at least two,
    // until the time is used up.
    def more = i < warm || (i - warm) % block != 0 || i < warm + 2 * block ||
      (System.nanoTime() - start) / 1e9 < seconds
    while (i < stmts.size && more) {
      if (i == warm) {
        warmS = (System.nanoTime() - start) / 1e9
        mark = Host.mark()
        start = System.nanoTime()
      }
      val s = stmts(i)
      val traced = tracer.isDefined && i >= warm && i % 2 == 0
      val (w, wMs) = timed("dml", s.kind, traced)(spark.sql(s.sql).collect())
      val (files, bytes, logBytes) = census(s.table)
      val logRead = if (!traced) Map.empty[String, Any] else {
        val t0 = System.nanoTime()
        GraftStorage.readLog(dir(s.table))
        Map("log_read_ms" -> (System.nanoTime() - t0) / 1e6)
      }
      writes += Map("i" -> i, "table" -> s.table, "kind" -> s.kind, "ms" -> wMs,
        "ok" -> w.isDefined, "traced" -> traced, "files" -> files, "bytes" -> bytes,
        "log_bytes" -> logBytes) ++ logRead

      val (r, rMs) = timed("read", s.table, traced)(spark.sql(
        s"SELECT ${Cols.mkString(", ")} FROM graft_cat.default.${s.table} " +
          s"WHERE o_orderkey IN (${s.keys}) ORDER BY o_orderkey").collect())
      reads += Map("i" -> i, "table" -> s.table, "ms" -> rMs, "ok" -> r.isDefined,
        "traced" -> traced, "rows" -> r.map(_.map(_.toSeq).toSeq))

      i += 1
      if (i == warm || (i > warm && (i - warm) % block == 0)) Tables.foreach { case (t, _) =>
        val (from, to) = (feedFrom(t), version(t))
        val traced = tracer.isDefined && i > warm && feeds.size % 2 == 0
        // resolving `<t>$changes` loads the table: part of the timed pull
        val (f, fMs) = timed("feed", t, traced) {
          val feed = spark.read.option("from_version", from.toLong)
            .option("to_version", to.toLong).table(s"graft_cat.default.`$t$$changes`")
          val cols = feed.columns
          val ver = if (cols.contains("__ver")) "__ver" else "-1 AS __ver"
          val id = if (cols.contains("__id")) "__id" else "o_orderkey AS __id"
          feed.selectExpr(Seq("__op", ver, id) ++ Cols: _*).collect()
        }
        feeds += Map("i" -> (i - 1), "table" -> t, "from" -> from, "to" -> to,
          "ms" -> fMs, "ok" -> f.isDefined, "traced" -> traced,
          "rows" -> f.map(_.map(_.toSeq).toSeq))
        feedFrom(t) = to
      }
    }
    val host = mark.since()
    val finalRows = Tables.map { case (t, _) =>
      t -> spark.sql(s"SELECT ${Cols.mkString(", ")} FROM graft_cat.default.$t ORDER BY o_orderkey")
        .collect().map(_.toSeq).toSeq
    }.toMap
    Map("setup_s" -> (seedS + warmS), "warm" -> warm, "executed" -> i, "writes" -> writes, "reads" -> reads,
      "feeds" -> feeds, "final" -> finalRows,
      "disk_bytes" -> Tables.map { case (t, _) => t -> diskBytes(t) }.toMap,
      "versions" -> Tables.map { case (t, _) => t -> version(t) }.toMap,
      "host" -> host)
  }
}
