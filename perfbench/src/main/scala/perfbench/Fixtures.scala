package perfbench

import graft.core.codec.{ByteWriter, KeyGroups}
import graft.core.codec.Codecs.{FlinkStringCodec, LongCodec, VoidNamespaceCodec}
import graft.core.meta.{Dialect, KeyedFileHandle, SavepointMeta, StateMeta}
import graft.state.{KeyedStateRow, Savepoints}

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.unsafe.Platform
import org.apache.spark.sql.catalyst.expressions.XXH64

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

/** Seeded, order-independent pseudo-randomness: every generated value is
  * a pure function of (seed, index), so the driver can recompute any
  * expectation without keeping the data.
  */
object Mix {
  /** SplitMix64 finalizer: a bijection on Long. */
  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The i-th distinct key of a seed's key space. */
  def key(seed: Long, i: Long): Long = mix64(mix64(seed) + i)

  /** `bits` high bits of a value derived from `x` and a salt. */
  def bits(x: Long, salt: Long, bits: Int): Long = mix64(x ^ mix64(salt)) >>> (64 - bits)

  /** Spark's `xxhash64(...)` over bigint / string columns, chained the
    * way Spark chains multi-column hashes (seed 42).
    */
  def xx(h: Long, v: Long): Long = XXH64.hashLong(v, h)
  def xx(h: Long, s: String): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
  }
  val XxSeed = 42L
  /** Fingerprints are summed per bucket; the mask keeps sums exact. */
  val FpMask = (1L << 30) - 1
  val Buckets = 64
  def bucket(k: Long): Long = java.lang.Math.floorMod(k, Buckets.toLong)
}

/** Raw keyed-state rows in the Flink layout, built with the library's
  * public codecs: `[key-group prefix][long key][void namespace]`.
  */
object Rows {
  private def keyBytes(key: Long, maxPar: Int, mapKey: String): Array[Byte] = {
    val w = new ByteWriter()
    KeyGroups.writeKeyGroup(w, KeyGroups.assignToKeyGroup(key, maxPar), maxPar)
    LongCodec.write(w, key)
    VoidNamespaceCodec.write(w, ())
    if (mapKey != null) FlinkStringCodec.write(w, mapKey)
    w.toBytes
  }

  def value(name: String, key: Long, v: Long, maxPar: Int): KeyedStateRow =
    KeyedStateRow(name, keyBytes(key, maxPar, null), LongCodec.toBytes(v))

  /** List value: elements joined by the ',' separator byte. */
  def list(name: String, key: Long, elems: Array[Array[Byte]], maxPar: Int): KeyedStateRow = {
    val w = new ByteWriter()
    elems.zipWithIndex.foreach { case (e, i) =>
      if (i > 0) w.writeByte(',')
      w.writeRaw(e)
    }
    KeyedStateRow(name, keyBytes(key, maxPar, null), w.toBytes)
  }

  /** Map entry: map key in the key bytes, value behind a null marker. */
  def mapEntry(name: String, key: Long, mapKey: String, v: Long, maxPar: Int): KeyedStateRow = {
    val w = new ByteWriter()
    w.writeBoolean(false)
    LongCodec.write(w, v)
    KeyedStateRow(name, keyBytes(key, maxPar, mapKey), w.toBytes)
  }
}

object Fixtures {

  /** Writes a Flink-dialect savepoint of one keyed operator through the
    * library's writer. The rows come from ONE input partition: the
    * writer keeps the arrival order of rows within a key group and
    * state, so a single partition makes the state files a pure
    * function of the seed.
    */
  def writeSavepoint(spark: SparkSession, uid: String, par: Int, maxPar: Int,
      states: Seq[StateMeta], nRows: Long, dir: String)(
      row: Long => Iterator[KeyedStateRow]): SavepointMeta = {
    val rows: Dataset[KeyedStateRow] = spark.range(0, nRows, 1, 1)
      .flatMap((i: java.lang.Long) => row(i))(Encoders.product[KeyedStateRow])
    states.foldLeft(
      Savepoints.writer(spark, Savepoints.bootstrap(uid, par, maxPar), uid)
        .withDialect(Dialect.Flink)
        .withKeyCodec(LongCodec)) { (w, s) => w.defineState(s) }
      .addKeyedStateRows(rows)
      .writeAll(dir)
  }

  /** The local file behind a keyed-state handle, which holds either a
    * path relative to the savepoint or an absolute path or URI.
    */
  def localFile(meta: SavepointMeta, f: KeyedFileHandle): Path = {
    val p = new org.apache.hadoop.fs.Path(f.relativePath)
    val abs = if (p.isAbsolute) p else new org.apache.hadoop.fs.Path(meta.basePath, f.relativePath)
    Paths.get(abs.toUri.getPath)
  }

  /** SHA-256 over the state files of `uid`, in subtask order (file
    * names carry a random suffix, their bytes must not).
    */
  def stateFilesDigest(meta: SavepointMeta, uid: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    meta.operator(uid).keyedFiles.sortBy(_.subtaskIndex)
      .foreach(f => md.update(Files.readAllBytes(localFile(meta, f))))
    md.digest().map("%02x".format(_)).mkString
  }

  def fileDigest(p: Path): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
}
