package perfbench

import graft.core.codec.Codecs.LongCodec
import graft.core.meta.{SavepointMeta, StateKind, StateMeta}
import graft.state.{KeyedStateRow, Savepoints}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, count, length, lit, size, sum}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** A savepoint job end to end: transform, bootstrap-join and rescale,
  * then point-in-time analytics over the result. A 2-subtask Flink
  * savepoint (maxParallelism 128) holds a value, a list and a map
  * state. One iteration joins the value state with a seeded external
  * delta and writes it back with `addValueState`, copies the list and
  * map states through raw, rescales to 8 subtasks at maxParallelism
  * 1024 (every key moves key group) and writes. It then loads the new
  * `_metadata`, scans the raw rows, runs a typed read with an aggregate
  * per state and joins value ⋈ map on the key.
  *
  * The write half is carried by key-group sort, encode, file write and
  * the metadata commit, and its input scan has fewer state files than
  * cores; the read half by scan, decode and typed projection over 8
  * state files, as many as or more than the cores.
  */
object SpTransform {
  val Uid = "transform-op"
  val Par = 2
  val MaxPar = 128
  val NewPar = 8
  val NewMaxPar = 1024
  val NTotal = 100000L
  val NEvents = 50000L
  val NTagKeys = 20000L
  /** Tags keys are key-space indices [TagsFrom, TagsFrom + NTagKeys):
    * half of them also hold a Total, so the join keeps half the entries.
    */
  val TagsFrom: Long = NTotal - NTagKeys / 2

  val States = Seq(
    StateMeta("Total", StateKind.Value, "long"),
    StateMeta("Events", StateKind.List, "list<long>"),
    StateMeta("Tags", StateKind.Map, "long", Some("flink-string")))

  def totalOf(k: Long): Long = Mix.bits(k, 21, 20)
  def eventsOf(k: Long): Array[Long] =
    Array.tabulate(1 + Mix.bits(k, 22, 2).toInt)(j => Mix.bits(k + j, 23, 24))
  /** A quarter of the keys get a delta. */
  def deltaOf(k: Long): Option[Long] =
    if (Mix.bits(k, 24, 2) == 0) Some(Mix.bits(k, 25, 14)) else None
  def tagsOf(k: Long): Int = 1 + Mix.bits(k, 3, 3).toInt
  def tag(k: Long, j: Int): String = s"tag-$j-${Mix.bits(k + j, 4, 10)}"
  def tagValue(k: Long, j: Int): Long = Mix.bits(k + j, 5, 16)

  def rows(seed: Long, i: Long): Iterator[KeyedStateRow] =
    if (i < NTotal) {
      val k = Mix.key(seed, i)
      Iterator.single(Rows.value("Total", k, totalOf(k), MaxPar))
    } else if (i < NTotal + NEvents) {
      val k = Mix.key(seed, i - NTotal)
      Iterator.single(Rows.list("Events", k, eventsOf(k).map(LongCodec.toBytes), MaxPar))
    } else {
      val k = Mix.key(seed, TagsFrom + i - NTotal - NEvents)
      Iterator.tabulate(tagsOf(k))(j => Rows.mapEntry("Tags", k, tag(k, j), tagValue(k, j), MaxPar))
    }
}

final class SpTransform(spark: SparkSession) extends Workload {
  import SpTransform._
  import Workload.{bucket, fp, render}
  import spark.implicits._

  private var fixture: String = _
  private var delta: String = _
  private var expected: Map[String, Seq[String]] = Map.empty
  private var lastWritten: SavepointMeta = _

  def generate(seed: Long, dir: Path): String = {
    val m = Fixtures.writeSavepoint(spark, Uid, Par, MaxPar, States,
      NTotal + NEvents + NTagKeys, dir.resolve("savepoint").toString)(i => rows(seed, i))
    spark.range(0, NTotal, 1, 1)
      .flatMap { (i: java.lang.Long) =>
        val k = Mix.key(seed, i)
        deltaOf(k).map(d => (k, d))
      }
      .toDF("k", "d")
      .write.parquet(dir.resolve("delta").toString)
    Fixtures.stateFilesDigest(m, Uid)
  }

  def prepare(seed: Long, dir: Path): Unit = {
    fixture = dir.resolve("savepoint").toString
    delta = dir.resolve("delta").toString
    val total = new Workload.Buckets(3)
    val totalByKey = new java.util.HashMap[Long, Long]()
    (0L until NTotal).foreach { i =>
      val k = Mix.key(seed, i)
      val v = totalOf(k) + deltaOf(k).getOrElse(0L)
      totalByKey.put(k, v)
      total.add(k, 1, v, Mix.xx(Mix.xx(Mix.XxSeed, k), v) & Mix.FpMask)
    }
    val events = new Workload.Buckets(3)
    (0L until NEvents).foreach { i =>
      val k = Mix.key(seed, i)
      val es = eventsOf(k)
      events.add(k, 1, es.length, es.foldLeft(Mix.xx(Mix.XxSeed, k))(Mix.xx) & Mix.FpMask)
    }
    val tags = new Workload.Buckets(3)
    val joined = new Workload.Buckets(2)
    var entries = 0L
    (TagsFrom until TagsFrom + NTagKeys).foreach { i =>
      val k = Mix.key(seed, i)
      (0 until tagsOf(k)).foreach { j =>
        val v = tagValue(k, j)
        entries += 1
        tags.add(k, 1, v, Mix.xx(Mix.xx(Mix.xx(Mix.XxSeed, k), tag(k, j)), v) & Mix.FpMask)
        if (i < NTotal) joined.add(k, 1, totalByKey.get(k) + v)
      }
    }
    expected = Map(
      "shape" -> Seq(s"$NewPar,$NewMaxPar,$NewPar"),
      "scan" -> Seq(s"Events,$NEvents", s"Tags,$entries", s"Total,$NTotal"),
      "value" -> total.rows(),
      "list" -> events.rows(),
      "map" -> tags.rows(),
      "join" -> joined.rows())
  }

  def iterate(rec: SpanRecorder, out: Path): Output = {
    val m = rec.span("meta.load")(Savepoints.load(fixture))
    val reader = Savepoints.reader(spark, m, Uid)
    val merged = rec.span("transform") {
      reader.readValueStates[Long, Long]("Total").toDF("k", "v")
        .join(spark.read.parquet(delta), Seq("k"), "left")
        .select(col("k"), col("v") + coalesce(col("d"), lit(0L)))
        .as[(Long, Long)]
    }
    lastWritten = rec.span("write") {
      Savepoints.writer(spark, m, Uid)
        .withParallelism(NewPar, NewMaxPar)
        .addValueState("Total", merged)
        .addKeyedStateRows(reader.getAllUnreadKeyedStateRows)
        .writeAll(out.toString)
    }
    val m2 = rec.span("meta.load")(Savepoints.load(out.toString))
    val r2 = Savepoints.reader(spark, m2, Uid)
    val scan = rec.span("scan") {
      spark.read.format("flink-savepoint").option("uid", Uid).load(m2.basePath)
        .groupBy("stateName")
        .agg(count(lit(1)), sum(length(col("keyAndNamespaceBytes")) + length(col("valueBytes"))))
        .collect()
    }
    val total = rec.span("project.value") {
      render(r2.readValueStates[Long, Long]("Total").toDF("k", "v")
        .groupBy(bucket(col("k"))).agg(count(lit(1)), sum("v"), sum(fp("k", "v"))))
    }
    val events = rec.span("project.list") {
      render(r2.readListStates[Long, Long]("Events").toDF("k", "l")
        .groupBy(bucket(col("k"))).agg(count(lit(1)), sum(size(col("l"))), sum(fp("k", "l"))))
    }
    val tags = rec.span("project.map") {
      render(r2.readMapStates[Long, String, Long]("Tags").toDF("k", "mk", "v")
        .groupBy(bucket(col("k"))).agg(count(lit(1)), sum("v"), sum(fp("k", "mk", "v"))))
    }
    val joined = rec.span("join") {
      val totals = r2.readValueStates[Long, Long]("Total").toDF("k", "v")
      val ts = r2.readMapStates[Long, String, Long]("Tags").toDF("k", "mk", "mv")
      render(totals.join(ts, "k")
        .groupBy(bucket(col("k"))).agg(count(lit(1)), sum(col("v") + col("mv"))))
    }
    val op = m2.operator(Uid)
    val walk = Files.walk(out)
    val files = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally walk.close()
    val rowsWritten = scan.map(_.getLong(1)).sum
    Output(
      Map("shape" -> Seq(s"${op.parallelism},${op.maxParallelism},${op.keyedFiles.size}"),
        "scan" -> scan.map(r => s"${r.getString(0)},${r.getLong(1)}").toSeq.sorted,
        "value" -> total, "list" -> events, "map" -> tags, "join" -> joined),
      Map("scan.rows" -> rowsWritten.toDouble,
        "scan.bytes" -> scan.map(_.getLong(2)).sum.toDouble,
        "write.bytes_out" -> files.map(Files.size).sum.toDouble,
        "write.files" -> files.size.toDouble,
        "rows_written" -> rowsWritten.toDouble))
  }

  def check(o: Output): Option[String] = Workload.diff(expected, o.rows)

  def probes(rec: SpanRecorder, scratch: Path): Map[String, Double] = {
    val m = Savepoints.load(fixture)
    val reader = Savepoints.reader(spark, lastWritten, Uid)
    // raw scans of one rescaled state each: the typed reads minus these
    // are the cost of typed projection
    for (_ <- 0 until 3; (state, span) <- Seq(
        "Total" -> "raw.value", "Events" -> "raw.list", "Tags" -> "raw.map")) {
      rec.span(span) {
        reader.getKeyedStateRows(Set(state))
          .agg(count(lit(1)), sum(length(col("keyAndNamespaceBytes")) + length(col("valueBytes"))))
          .collect()
      }
    }
    // the raw scan of the input: 2 state files on more cores
    for (_ <- 0 until 3) rec.span("scan.input") {
      spark.read.format("flink-savepoint").option("uid", Uid).load(m.basePath)
        .agg(count(lit(1)), sum(length(col("keyAndNamespaceBytes")) + length(col("valueBytes"))))
        .first()
    }
    SavepointProbes.codec(m, Uid, skipAllBut = "Events") +
      ("meta.commit_s" -> SavepointProbes.commit(lastWritten, scratch))
  }
}
