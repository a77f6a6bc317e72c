package perfbench

import graft.llm.{Dedup, GraphAlgs}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, length, max, struct}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Near-duplicate curation through the `graft.llm` layer: MinHash-LSH
  * pairs, connected components over them, and the best document kept
  * per component. Every call goes through the public DataFrame APIs,
  * never the memoized query paths, so each iteration pays for the
  * whole derivation.
  *
  * The base corpus has the shape of the sf0.1 `documents` table: 10 to
  * 100 words drawn uniformly from its 30-word vocabulary, and about one
  * document in twenty a near-duplicate, an earlier document's text with
  * " dup" appended. A near-duplicate of a near-duplicate makes chains,
  * so most families hold two documents and a few three or four. Through
  * MinHash-LSH both corpora give about 0.05 pairs per document, leave
  * about 90% of documents without a near-duplicate and converge in 2
  * connected-components rounds. The corpus
  * repeats the base `Copies` times, copy `c` rewriting every word `w` to
  * `w_c` as the word-suffix scale copies of the documents table do, so
  * no pair crosses copies and each copy has the base's structure.
  */
object Curation {
  val DocsPerCopy = 1250
  val Copies = 4
  val CopyStride = 10000000L
  /** The documents table's vocabulary. */
  val Vocab: IndexedSeq[String] = ("a agg batch big column customer data fast filter group hash " +
    "join key line merge order part query row scan slow small sort spark stream table the " +
    "value vector window").split(" ").toIndexedSeq
  /** Near-duplicates per 1024 documents (250 of 5000 in the table). */
  val DupPer1024 = 51L
  /** Share of a copy's within-family pairs MinHash-LSH must find. */
  val PairFloor = 0.9
  /** The estimated similarity at and above which the library's
    * MinHash-LSH keeps a candidate pair.
    */
  val EstSimFloor = 0.5

  /** Base documents: the words, and for a near-duplicate the index of
    * the earlier document it copies, else -1.
    */
  def baseDocs(seed: Long): IndexedSeq[(Array[String], Int)] = {
    val docs = mutable.ArrayBuffer.empty[(Array[String], Int)]
    (0 until DocsPerCopy).foreach { i =>
      val k = Mix.key(seed, i)
      docs += (
        if (i > 0 && Mix.bits(k, 31, 10) < DupPer1024) {
          val src = (Mix.bits(k, 32, 31) % i).toInt
          (docs(src)._1 :+ "dup", src)
        } else {
          val len = 10 + (Mix.bits(k, 33, 16) % 91).toInt
          (Array.tabulate(len)(j => Vocab((Mix.bits(k + j, 34, 16) % Vocab.size).toInt)), -1)
        })
    }
    docs.toIndexedSeq
  }

  /** Family of each base document: the first document of its chain. */
  def families(base: IndexedSeq[(Array[String], Int)]): IndexedSeq[Int] = {
    val fam = new Array[Int](base.size)
    base.indices.foreach { i => fam(i) = if (base(i)._2 < 0) i else fam(base(i)._2) }
    fam.toIndexedSeq
  }

  /** The corpus, one sequence of (doc_id, text) per copy. */
  def corpus(seed: Long): Seq[Seq[(Long, String)]] = {
    val base = baseDocs(seed)
    (0 until Copies).map { c =>
      base.zipWithIndex.map { case ((ws, _), i) =>
        (i + c * CopyStride, if (c == 0) ws.mkString(" ") else ws.map(w => s"${w}_$c").mkString(" "))
      }
    }
  }
}

final class Curation(spark: SparkSession) extends Workload {
  import Curation._

  private var docsDir: String = _
  private var docText: Map[Long, String] = Map.empty
  private var family: IndexedSeq[Int] = IndexedSeq.empty
  private var familyPairs = 0L
  // this iteration's cached results, read back by `check`
  private var pairs: DataFrame = _
  private var labels: DataFrame = _

  /** One TSV file per copy, as a corpus arrives in several files. */
  def generate(seed: Long, dir: Path): String = {
    val docs = dir.resolve("docs")
    Files.createDirectories(docs)
    corpus(seed).zipWithIndex.map { case (copy, c) =>
      val f = docs.resolve(s"copy-$c.tsv")
      Files.write(f, copy.map { case (id, t) => s"$id\t$t\n" }.mkString.getBytes(UTF_8))
      Fixtures.fileDigest(f)
    }.mkString
  }

  def prepare(seed: Long, dir: Path): Unit = {
    docsDir = dir.resolve("docs").toString
    docText = corpus(seed).flatten.toMap
    family = families(baseDocs(seed))
    familyPairs = family.groupBy(identity).values.map(f => f.size.toLong * (f.size - 1) / 2).sum
  }

  def iterate(rec: SpanRecorder, out: Path): Output = {
    val docs = spark.read.schema("doc_id BIGINT, text STRING").option("sep", "\t").csv(docsDir)
    val (p, nPairs) = rec.span("dedup") {
      val p = Dedup.minhashLshPairs(docs).select("doc_a", "doc_b").cache()
      (p, p.count())
    }
    pairs = p
    labels = rec.span("cc") {
      val l = GraphAlgs.connectedComponents(
        docs.select(col("doc_id").as("id")),
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))).cache()
      l.count()
      l
    }
    val kept = rec.span("keep") {
      labels.join(docs.select(col("doc_id").as("id"), length(col("text")).as("len")), "id")
        .groupBy("component").agg(max(struct(col("len"), -col("id"))).as("best"))
        .select(-col("best.col2"))
        .collect().map(_.getLong(0).toString).toSeq.sorted
    }
    Output(Map("kept" -> kept),
      Map("dedup.pairs" -> nPairs.toDouble, "cc.components" -> kept.size.toDouble))
  }

  /** Share of MinHash permutations on which the library's signatures
    * of two documents agree: the estimate its pair filter keeps at 0.5
    * and above.
    */
  private def estSim(a: Long, b: Long): Double = {
    import spark.implicits._
    val sig = Dedup.minhashSignatureNarrow(Seq(a -> docText(a), b -> docText(b)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (1 until r.length).map(r.get)).toMap
    sig(a).zip(sig(b)).count { case (x, y) => x == y }.toDouble / sig(a).size
  }

  /** The pairs must come from the seed's near-duplicate families: each
    * copy finds at least `PairFloor` of its family's pairs (the sf0.1
    * table gives all of them), and a pair that does not join two
    * documents of one family in one copy must be a false positive of
    * the MinHash estimate, its two signatures agreeing on at least half
    * the permutations (seed 207 gives one such pair, at a 3-gram
    * Jaccard similarity of 0.01). The labels must equal a union-find
    * over the collected pairs, and the kept documents the longest (then
    * lowest id) of each component.
    */
  def check(o: Output): Option[String] = {
    val pairRows = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairRows.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = docText.keys.toSeq.map(id => id -> find(id))
    val best = want.groupBy(_._2).values
      .map(_.map(_._1).maxBy(id => (docText(id).length, -id)).toString).toSeq.sorted
    def inFamily(a: Long, b: Long) =
      a / CopyStride == b / CopyStride && family((a % CopyStride).toInt) == family((b % CopyStride).toInt)
    val floor = math.ceil(PairFloor * familyPairs).toLong
    val perCopy = pairRows.groupBy(_._1 / CopyStride).map { case (c, ps) => c -> ps.length.toLong }
    Workload.diff(
      Map("labels" -> want.map { case (i, c) => s"$i,$c" }.sorted,
        "kept" -> best,
        "pairs_unexplained" -> Seq("0"),
        "pairs_per_copy" -> (0 until Copies).map(c => s"$c,at least $floor")),
      o.rows ++ Map(
        "labels" -> labels.collect().map(r => s"${r.getLong(0)},${r.getLong(1)}").toSeq.sorted,
        "pairs_unexplained" -> Seq(pairRows.count { case (a, b) =>
          !inFamily(a, b) && estSim(a, b) < EstSimFloor }.toString),
        "pairs_per_copy" -> (0 until Copies).map { c =>
          val n = perCopy.getOrElse(c.toLong, 0L)
          if (n >= floor) s"$c,at least $floor" else s"$c,$n"
        }))
  }

  override def release(): Unit = {
    Seq(pairs, labels).filter(_ != null).foreach(_.unpersist(blocking = true))
    pairs = null
    labels = null
  }

  def probes(rec: SpanRecorder, scratch: Path): Map[String, Double] = Map.empty
}
