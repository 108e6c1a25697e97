package perfbench

import scala.collection.mutable.ArrayBuffer

/** Open-loop load generator: one thread, chunks scheduled by absolute
  * due time. A chunk that comes due while the generator is behind is
  * sent at once, still stamped with its due time, so a stall in the
  * engine shows up as latency of the rows it delayed rather than as a
  * lower offered rate.
  */
object OpenLoop {

  /** `rate` rows per second for `seconds`. */
  final case class Phase(name: String, seconds: Double, rate: Double)

  /** One chunk as sent: its source offset, when it was due and when it
    * was actually handed to the source (both epoch ms, fractional). */
  final case class Chunk(phase: String, offset: Long, dueMs: Double,
                         sentMs: Double, rows: Int)

  /** Rows in chunk `k` of a phase at `rate` rows/s with `chunkMs`-long
    * chunks: the difference of cumulative due counts, so rounding never
    * drifts the offered rate. */
  def rowsInChunk(rate: Double, chunkMs: Double, k: Long): Int =
    (math.floor(rate * (k + 1) * chunkMs / 1000.0) -
      math.floor(rate * k * chunkMs / 1000.0)).toInt

  /** Sends every phase in order; `send` hands `n` fresh rows to the
    * source and returns the source offset they landed at. Blocks until
    * the last chunk is sent. */
  def run(phases: Seq[Phase], chunkMs: Double,
          send: Int => Long): Seq[Chunk] = {
    val out = ArrayBuffer.empty[Chunk]
    val t0Ns = System.nanoTime()
    var phaseStartMs = 0.0
    phases.foreach { ph =>
      val nChunks = math.round(ph.seconds * 1000.0 / chunkMs)
      var k = 0L
      while (k < nChunks) {
        val dueRel = phaseStartMs + k * chunkMs
        val waitNs = (dueRel * 1e6).toLong - (System.nanoTime() - t0Ns)
        if (waitNs > 0) java.util.concurrent.locks.LockSupport.parkNanos(waitNs)
        val n = rowsInChunk(ph.rate, chunkMs, k)
        if (n > 0) {
          val sentNs = System.nanoTime()
          val off = send(n)
          out += Chunk(ph.name, off, Trace.toEpochMs(t0Ns + dueRel * 1e6),
            Trace.toEpochMs(sentNs.toDouble), n)
        }
        k += 1
      }
      phaseStartMs += nChunks * chunkMs
    }
    out.toList
  }

  /** Per-row latency samples: each chunk's rows are committed by the
    * first batch whose offset range (start, end] holds the chunk's
    * offset; a row's latency is that batch's end minus the chunk's due
    * time. Chunks no batch committed yield no sample (the caller's
    * output check counts them as missing). */
  def rowLatencies(chunks: Seq[Chunk],
                   batches: Seq[(Long, Long, Double)]): Seq[(Chunk, Double)] = {
    val sorted = batches.sortBy(_._2)
    val ends = sorted.map(_._2).toArray
    chunks.flatMap { c =>
      val i = java.util.Arrays.binarySearch(ends, c.offset) match {
        case j if j >= 0 => j
        case j => -j - 1
      }
      if (i < sorted.size && sorted(i)._1 < c.offset) Some(c -> (sorted(i)._3 - c.dueMs))
      else None
    }
  }
}
