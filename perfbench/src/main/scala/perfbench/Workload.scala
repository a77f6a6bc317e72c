package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import java.nio.file.Path

/** What one iteration hands back: per check, its rows rendered as
  * strings (compared exactly against the expectation derived from the
  * seed), and measured counts the per-layer metrics need.
  */
final case class Output(rows: Map[String, Seq[String]], counts: Map[String, Double])

/** One benchmark workload: a seeded fixture and a closed-loop job
  * iteration over it. The library only ever sees the generated inputs.
  */
trait Workload {
  /** Writes the fixture for `seed` under `dir` and returns a digest of
    * its data files, so the caller can check that a seed regenerates
    * identical bytes and another seed does not.
    */
  def generate(seed: Long, dir: Path): String

  /** Fixes the fixture the iterations read and derives the expected
    * outputs from the seed.
    */
  def prepare(seed: Long, fixture: Path): Unit

  /** One job iteration; library calls are wrapped in `rec` spans. */
  def iterate(rec: SpanRecorder, out: Path): Output

  /** None when `o` equals the expectation, else what differs. */
  def check(o: Output): Option[String]

  /** Frees what the benchmark itself cached during an iteration. */
  def release(): Unit = ()

  /** Single-layer measurements outside the iteration, for the traced
    * run: per-layer metric name to value, plus spans recorded in `rec`
    * that the caller turns into metrics.
    */
  def probes(rec: SpanRecorder, scratch: Path): Map[String, Double]
}

object Workload {
  val Names: Seq[String] = Seq("sp-transform", "curation")

  def apply(name: String, spark: SparkSession): Workload = name match {
    case "sp-transform" => new SpTransform(spark)
    case "curation"     => new Curation(spark)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  def bucket(c: Column): Column = pmod(c, lit(Mix.Buckets.toLong)).as("b")

  /** Order-independent fingerprint of a row: xxhash64 of its columns,
    * masked so that per-bucket sums stay exact.
    */
  def fp(cols: String*): Column = xxhash64(cols.map(col): _*).bitwiseAND(lit(Mix.FpMask))

  def render(df: DataFrame): Seq[String] = df.collect().map(_.mkString(",")).toSeq.sorted

  /** None when every expected check has exactly the expected rows. */
  def diff(expected: Map[String, Seq[String]], got: Map[String, Seq[String]]): Option[String] =
    expected.toSeq.sortBy(_._1).collectFirst {
      case (check, want) if !got.get(check).contains(want) =>
        val have = got.getOrElse(check, Nil)
        val (w, h) = (want.diff(have), have.diff(want))
        s"$check: ${w.size} expected rows missing (first ${w.headOption.getOrElse("-")}), " +
          s"${h.size} unexpected (first ${h.headOption.getOrElse("-")})"
    }

  /** Per-bucket sums for expectations computed on the driver. Every
    * summed value is an integer or a multiple of 1/4 and every sum stays
    * below 2^50, so Double arithmetic is exact in any order.
    */
  final class Buckets(width: Int) {
    private val acc = Array.fill(Mix.Buckets)(new Array[Double](width))
    private val used = new Array[Boolean](Mix.Buckets)
    def add(k: Long, vals: Double*): Unit = {
      val b = Mix.bucket(k).toInt
      used(b) = true
      var i = 0
      while (i < width) { acc(b)(i) += vals(i); i += 1 }
    }
    /** Rows in the shape `render` gives: bucket, then each column as a
      * Long, or as a Double when `doubleCols` names its index.
      */
    def rows(doubleCols: Set[Int] = Set.empty): Seq[String] =
      (0 until Mix.Buckets).filter(used(_)).map { b =>
        (b.toString +: acc(b).toSeq.zipWithIndex.map { case (v, i) =>
          if (doubleCols(i)) v.toString else v.toLong.toString
        }).mkString(",")
      }.sorted
  }
}
