package perfbench

import graft.core.codec.{ByteReader, Codec, CodecRegistry, KeyGroups}
import graft.core.codec.Codecs.LongCodec
import graft.core.flink.FlinkMetadataIO
import graft.core.meta.{SavepointMeta, StateKind}
import graft.core.scan.{FlinkStreamFormat, StateStreamFormat}

import java.nio.file.{Files, Path}

/** Single-thread driver calls into the stream format and codecs, over
  * state files held in memory, so they time the CPU work of one layer
  * and no I/O or scheduling.
  */
object SavepointProbes {

  /** Repeats `body` (which returns rows handled) until it has run for at
    * least `minNs` and 3 times; returns the median rows per second.
    */
  def rate(minNs: Long = 300000000L)(body: => Long): Double = {
    val rates = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (rates.size < 3 || System.nanoTime() - t0 < minNs) {
      val s = System.nanoTime()
      val rows = body
      rates += rows / ((System.nanoTime() - s) / 1e9)
    }
    Stats.median(rates.toSeq)
  }

  /** Enough files for a steady rate, few enough to keep the probe short. */
  val MaxFiles = 4

  private final case class Segment(bytes: Array[Byte], offset: Int, kg: Int)

  /** Key-group segments of the first `MaxFiles` state files. */
  private def segments(meta: SavepointMeta, uid: String): Seq[Segment] =
    meta.operator(uid).keyedFiles.sortBy(_.subtaskIndex).take(MaxFiles).flatMap { f =>
      val bytes = Files.readAllBytes(Fixtures.localFile(meta, f))
      f.offsets.zipWithIndex.collect {
        case (off, i) if off > 0 => Segment(bytes, off.toInt, f.kgStart + i)
      }
    }

  private def decode(s: Segment, compression: Boolean, keep: Int => Boolean) =
    FlinkStreamFormat.decodeGroup(
      new java.io.ByteArrayInputStream(s.bytes, s.offset, s.bytes.length - s.offset),
      compression, keep)

  /** decode / skip / encode rates of the operator's state files.
    * `skipAllBut` names the one state the skip probe keeps.
    */
  def codec(meta: SavepointMeta, uid: String, skipAllBut: String): Map[String, Double] = {
    val op = meta.operator(uid)
    val segs = segments(meta, uid)
    val prefix = KeyGroups.prefixBytes(op.maxParallelism).toLong
    // value decoders per state id; map entries carry a null marker
    val decoders: IndexedSeq[Array[Byte] => Any] = op.states.toIndexedSeq.map { s =>
      val c = CodecRegistry.resolve(s.valueCodecId).asInstanceOf[Codec[Any]]
      if (s.kind == StateKind.Map) (b: Array[Byte]) => {
        val r = new ByteReader(b); if (r.readBoolean()) null else c.read(r)
      }
      else (b: Array[Byte]) => c.fromBytes(b)
    }
    // keys are summed into a field the JIT cannot drop
    var sink = 0L
    val decodeRate = rate() {
      var n = 0L
      segs.foreach { s =>
        decode(s, op.compression, _ => true).foreach { r =>
          val kr = new ByteReader(r.key); kr.skip(prefix)
          sink += LongCodec.read(kr)
          if (decoders(r.stateId)(r.value) != null) n += 1
        }
      }
      n
    }
    val keepId = op.stateId(skipAllBut)
    val total = segs.iterator.map(s => decode(s, op.compression, _ => true).size.toLong).sum
    val skipRate = rate() {
      val kept = segs.iterator.map(s => decode(s, op.compression, _ == keepId).size.toLong).sum
      total - kept
    }
    val records = segs.map(s => s.kg -> decode(s, op.compression, _ => true).toVector)
    val encodeRate = rate() {
      val out = new java.io.ByteArrayOutputStream(1 << 20)
      op.keyedFiles.sortBy(_.subtaskIndex).take(MaxFiles).foreach { f =>
        out.reset()
        val its = records.filter { case (kg, _) => kg >= f.kgStart && kg <= f.kgEnd }
          .iterator.flatMap { case (kg, rs) => rs.iterator.map(r => (kg, r: StateStreamFormat.Record)) }
        FlinkStreamFormat.encode(out, its, f.kgStart, f.kgEnd, op.compression, 0L)
      }
      total
    }
    Map("decode.rows_per_s" -> decodeRate, "decode.skip_rows_per_s" -> skipRate,
      "encode.rows_per_s" -> encodeRate)
  }

  /** Median seconds of a `_metadata` write of `meta` into fresh directories. */
  def commit(meta: SavepointMeta, scratch: Path): Double = {
    val secs = (0 until 5).map { i =>
      val dir = scratch.resolve(s"commit-$i")
      val t0 = System.nanoTime()
      FlinkMetadataIO.write(dir.toString, meta)
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(secs)
  }
}
