package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.Charset
import java.util.zip.GZIPOutputStream

import org.apache.spark.unsafe.types.UTF8String

import graft.plans.{Inflate, Transcode}

/** Throughput of the pure-JVM decoders under the intake chains, over
  * seed-generated text. Payloads are compressed and encoded with the
  * JDK and zstd-jni directly, never with the program's own `compress`,
  * and every decode is checked against the original bytes. */
object Kernels {
  val Names: Seq[String] =
    Seq("kernel.inflate_gzip_mb_s", "kernel.inflate_zstd_mb_s", "kernel.transcode_mb_s")

  private val Words = Seq("the", "data", "pipeline", "café", "naïve", "straße", "über",
    "marketplace", "royalty", "résumé", "crème", "brûlée", "top", "ten", "usage", "façade")

  /** Median MB/s of `f` over `bytes` output bytes, after a warm-up. */
  private def rate(bytes: Int)(f: => Array[Byte]): Double = {
    (1 to 5).foreach(_ => f)
    val runs = (1 to 9).map { _ =>
      val t0 = System.nanoTime(); f; bytes / 1048576.0 / ((System.nanoTime() - t0) / 1e9)
    }
    runs.sorted.apply(runs.size / 2)
  }

  def measure(seed: Long): Map[String, Double] = {
    val rnd = new java.util.Random(seed)
    val sb = new StringBuilder
    while (sb.length < (4 << 20)) sb.append(Words(rnd.nextInt(Words.size))).append(' ')
    val text = sb.toString
    val raw = text.getBytes("UTF-8")
    val gz = {
      val bos = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(bos); g.write(raw); g.close(); bos.toByteArray
    }
    val zs = com.github.luben.zstd.Zstd.compress(raw, 3)
    val cp1252 = text.getBytes(Charset.forName("windows-1252"))
    val cs = UTF8String.fromString("windows-1252")
    def same(out: Array[Byte]): Array[Byte] = {
      require(java.util.Arrays.equals(out, raw), "kernel output differs from its input")
      out
    }
    Map(
      "kernel.inflate_gzip_mb_s" -> rate(raw.length)(same(Inflate.inflate(gz, Inflate.Gzip, raw.length))),
      "kernel.inflate_zstd_mb_s" -> rate(raw.length)(same(Inflate.inflate(zs, Inflate.ZstdFmt, raw.length))),
      "kernel.transcode_mb_s" -> rate(raw.length)(same(Transcode.toUtf8(cp1252, cs, false).getBytes)))
  }
}
