package graft

import org.apache.spark.sql.functions._

/** Dev-only `.warc.gz` source heap-posture measurement (r15, VERDICT
  * r14 what's-wrong #2 done-criterion): synthesize ONE multi-hundred-
  * MB segment file (incompressible LCG filler per record, so deflate
  * cannot shrink it away), then read it with [[graft.text.Warc
  * .readWarcGz]] — the streaming binaryFiles + member-walker path —
  * while a driver thread samples used heap. The old binaryFile
  * `content` path held the whole compressed file PLUS every inflated
  * record (UTF-16 strings, ~2× the octets) simultaneously — >3× the
  * segment size per task; the streaming walker's bound is the
  * 256 KiB read buffer + ONE record. The decisive form of the proof
  * is a CONSTRAINED heap: run with SPARK_DRIVER_MEM well below the
  * segment size — the scan completing at all is then impossible for
  * the buffering path (local[1]: the one task shares the driver JVM,
  * so -Xmx bounds the task too, and the sampled peak-delta under GC
  * pressure approximates true residency). Run:
  *
  *   SPARK_DRIVER_MEM=512m sbt -batch "Test/runMain graft.DevScaleWarc 600"
  *
  * Measured r15: 600 MB segment (499 MB compressed), 9600 records,
  * completes in ONE task under a 512 MB total heap — peak used-heap
  * delta 106 MB including Spark machinery, 47 MB/s single-thread
  * inflate+parse throughput.
  *
  * Headline numbers land in docs/SCALE.md "warc.gz streaming".
  */
object DevScaleWarc {
  def main(args: Array[String]): Unit = {
    val segMB = if (args.nonEmpty) args(0).toInt else 400
    // local[1]: ONE task walks the one segment — the per-task bound is
    // the thing under measurement, parallelism-across-files is not
    val spark = GraftSession.engine(1)

    val dir = java.nio.file.Files.createTempDirectory("warcscale")
    try {
      // ~64 KiB of printable LCG filler per record -> record bodies
      // that deflate cannot collapse; segMB MB of members total
      var seed = 99L
      def filler(n: Int): String = {
        val a = new Array[Byte](n)
        var i = 0
        while (i < n) {
          seed = seed * 6364136223846793005L + 1442695040888963407L
          a(i) = (33 + ((seed >>> 33) % 94)).toByte
          i += 1
        }
        new String(a, "US-ASCII")
      }
      val recBytes = 64 * 1024
      val nRecs = segMB * 1024 * 1024 / recBytes
      val fos = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(dir.resolve("seg-0.warc.gz").toFile),
        1 << 20)
      try graft.text.Warc.writeGzMembers(fos,
        Iterator.range(0, nRecs).map { r =>
          val body = s"<p>record $r</p>" + filler(recBytes)
          ("WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: http://s.example/doc/$r\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n" + body + "\r\n\r\n")
            .getBytes("UTF-8")
        })
      finally fos.close()
      val segActualMB =
        dir.resolve("seg-0.warc.gz").toFile.length() / 1024.0 / 1024.0
      println(f"segment: $nRecs records, $segActualMB%.0f MB compressed")

      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      def usedMB(): Double = {
        System.gc()
        mem.getHeapMemoryUsage.getUsed / 1024.0 / 1024.0
      }
      val base = usedMB()
      @volatile var peak = 0.0
      @volatile var done = false
      val sampler = new Thread(() => {
        while (!done) {
          val u = mem.getHeapMemoryUsage.getUsed / 1024.0 / 1024.0
          if (u > peak) peak = u
          Thread.sleep(20)
        }
      })
      sampler.setDaemon(true)
      sampler.start()
      val t0 = System.nanoTime()
      val agg = graft.text.Warc.readWarcGz(spark, dir.toString)
        .agg(count(lit(1)).as("n"), sum(length(col("rec"))).as("chars"))
        .collect()(0)
      val wall = (System.nanoTime() - t0) / 1e9
      done = true
      sampler.join()
      val inflatedMB = agg.getLong(1) / 1024.0 / 1024.0
      println(f"records=${agg.getLong(0)} inflated=$inflatedMB%.0f MB " +
        f"wall=$wall%.1f s throughput=${inflatedMB / wall}%.0f MB/s")
      println(f"heap: base=$base%.0f MB peak=$peak%.0f MB " +
        f"delta=${peak - base}%.0f MB " +
        f"(vs $segActualMB%.0f MB compressed + $inflatedMB%.0f MB inflated " +
        "the buffering path would hold)")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      val paths = try walk.iterator().asScala.toSeq finally walk.close()
      paths.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      spark.stop()
    }
  }
}
