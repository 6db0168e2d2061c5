package perfbench

import java.nio.file.{Files, Paths}

/** Box-contention sentinels, run in their own JVM before and after a
  * workload so their memory never shows in the workload's RSS:
  *  - cpu: the register-only 2×10⁸-step xorshift spin `graft.Bench` uses;
  *  - mem: strided reads over a buffer twice the L3 size, which a
  *    register-only spin cannot see (memory-bandwidth drag).
  * Each is the minimum of three passes. Prints one JSON object.
  */
object Calib {

  def spin(): Double = {
    val t0 = System.nanoTime()
    var s = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; i += 1 }
    if (s == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  /** L3 size from sysfs, or 32 MiB when the platform does not say. */
  def l3Bytes: Long = {
    val p = Paths.get("/sys/devices/system/cpu/cpu0/cache/index3/size")
    scala.util.Try {
      val s = Files.readString(p).trim
      val n = s.takeWhile(_.isDigit).toLong
      s.last.toUpper match { case 'K' => n << 10; case 'M' => n << 20; case 'G' => n << 30; case _ => n }
    }.getOrElse(32L << 20)
  }

  def stride(buf: Array[Long]): Double = {
    val t0 = System.nanoTime()
    var sum = 0L
    var pass = 0
    while (pass < 4) {
      var i = pass
      while (i < buf.length) { sum += buf(i); i += 8 } // one read per 64-byte line
      pass += 1
    }
    if (sum == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val bytes = math.min(1L << 30, math.max(64L << 20, 2 * l3Bytes))
    val buf = new Array[Long]((bytes / 8).toInt)
    var i = 0
    while (i < buf.length) { buf(i) = i; i += 1 }
    val cpu = Seq.fill(3)(spin()).min
    val mem = Seq.fill(3)(stride(buf)).min
    println(Json.obj("cpu_s" -> cpu, "mem_s" -> mem, "mem_buffer_bytes" -> bytes))
  }
}
