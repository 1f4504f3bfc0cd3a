package graft.streaming

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util

/** `osm-replication` — the replication feed as a REGISTERED Structured
  * Streaming source (SURVEY.md §4 item 3; the reference's hand-rolled
  * fetch loop `changesetmd.py:179-186` lifted into Spark's engine):
  *
  *   spark.readStream.format("osm-replication")
  *     .option("path", replicationBaseDir)
  *     .load()                       // one row per changeset element
  *
  * Offsets ARE replication sequence numbers, so Spark's own
  * checkpointing carries the `last_sequence` state document: restart
  * resumes exactly where the previous run committed — the engine-level
  * version of `osm_changeset_state` (queries.py:28-35). Each
  * micro-batch plans one InputPartition per sequence (diffs are
  * independent files → embarrassingly parallel), `maxSeqsPerBatch`
  * bounds batch width like the catch-up loop's batchSize.
  *
  * The partition reader pull-parses the gzip diff XML with
  * `OsmXml.parseFile` (StAX, O(1) parser state per element, the
  * reference's `iterparse` + `elem.clear()`, `changesetmd.py:82,119-122`)
  * and emits rows in the `OsmXml.changesets` schema (raw per-diff rows;
  * last-wins compaction/merge stays a downstream operator, e.g.
  * foreachBatch → PartitionedTable).
  */
class ReplicationSourceV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "osm-replication"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ReplicationSourceV2.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // Spark hands getTable the ORIGINAL-case options map (DataSourceV2Utils
    // uses asCaseSensitiveMap), so `.option("maxSeqsPerBatch", ...)` only
    // resolves through a case-insensitive wrapper.
    val opts = new CaseInsensitiveStringMap(properties)
    new ReplicationTable(opts.get("path"), opts.getInt("maxSeqsPerBatch", 8))
  }
}

object ReplicationSourceV2 {
  /** Output schema — matches OsmXml.changesets plus the source seq. */
  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("id", LongType),
    StructField("user_id", LongType),
    StructField("created_at", TimestampType),
    StructField("min_lat", DecimalType(10, 7)),
    StructField("max_lat", DecimalType(10, 7)),
    StructField("min_lon", DecimalType(10, 7)),
    StructField("max_lon", DecimalType(10, 7)),
    StructField("closed_at", TimestampType),
    StructField("open", BooleanType),
    StructField("num_changes", IntegerType),
    StructField("user_name", StringType),
    StructField("tags", MapType(StringType, StringType))))

  private[streaming] def parseMicros(s: String): Long =
    java.time.Instant.parse(s).toEpochMilli * 1000L +
      java.time.Instant.parse(s).getNano / 1000 % 1000

  /** One diff file's `OsmXml.parseFile` rows as InternalRows. */
  private[streaming] def parseDiff(path: java.nio.file.Path, seq: Long): Iterator[InternalRow] = {
    val in: java.io.InputStream = {
      val raw = java.nio.file.Files.newInputStream(path)
      if (path.toString.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw) else raw
    }
    def utf8(s: String) = if (s == null) null else UTF8String.fromString(s)
    def dec(s: String) =
      if (s == null) null
      else org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(s), 10, 7)
    def ts(s: String): Any = if (s == null) null else parseMicros(s)
    graft.sources.OsmXml.parseFile(in).map { r =>
      def a(f: String) = r.getAs[String](f)
      val tags = r.getAs[Seq[org.apache.spark.sql.Row]]("tag")
      InternalRow(seq, r.getAs[java.lang.Long]("_id"),
        Option(a("_uid")).map(_.toLong).orNull, ts(a("_created_at")),
        dec(a("_min_lat")), dec(a("_max_lat")), dec(a("_min_lon")), dec(a("_max_lon")),
        ts(a("_closed_at")), Option(a("_open")).map(_.toBoolean).orNull,
        Option(a("_num_changes")).map(_.toInt).orNull, utf8(a("_user")),
        ArrayBasedMapData(tags.map(t => utf8(t.getString(0))).toArray[Any],
          tags.map(t => utf8(t.getString(1))).toArray[Any]))
    }
  }
}

private[graft] class ReplicationTable(path: String, val maxSeqsPerBatch: Int)
    extends Table with SupportsRead {
  require(path != null, "osm-replication requires .option(\"path\", <replication base dir>)")
  override def name(): String = s"osm-replication($path)"
  override def schema(): StructType = ReplicationSourceV2.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = ReplicationSourceV2.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new ReplicationMicroBatchStream(path, maxSeqsPerBatch)
    }
}

/** Offset = last fully-processed sequence number. */
private[streaming] case class SeqOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

private[streaming] class ReplicationMicroBatchStream(path: String, maxSeqsPerBatch: Int)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private val base = java.nio.file.Paths.get(path)

  // AvailableNow pins the feed head at query start; the run then drains
  // to exactly that head across admission-controlled micro-batches
  // (without SupportsTriggerAvailableNow, Spark falls back to ONE batch
  // and an honored maxSeqsPerBatch would under-drain the feed)
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(Replication.readServerState(base)._1)

  override def initialOffset(): Offset = SeqOffset(0L)
  override def deserializeOffset(json: String): Offset = SeqOffset(json.trim.toLong)

  // admission control: a micro-batch admits at most maxSeqsPerBatch
  // diffs (the catch-up loop's batchSize); reportLatestOffset exposes
  // the true head so AvailableNow drains to it across batches
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val serverSeq = availableNowCap.getOrElse(Replication.readServerState(base)._1)
    val lo = start.asInstanceOf[SeqOffset].seq
    SeqOffset(math.min(serverSeq, lo + maxSeqsPerBatch))
  }

  override def reportLatestOffset(): Offset = {
    val (serverSeq, _) = Replication.readServerState(base)
    SeqOffset(serverSeq)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "SupportsAdmissionControl: latestOffset(start, limit) is used")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[SeqOffset].seq
    val hi = end.asInstanceOf[SeqOffset].seq
    // one partition per diff — independent files, fully parallel
    ((lo + 1) to hi).map(s =>
      DiffPartition(base.resolve(Replication.sequencePath(s)).toString, s)
        .asInstanceOf[InputPartition]).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = DiffReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[streaming] case class DiffPartition(path: String, seq: Long) extends InputPartition

private[streaming] object DiffReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[DiffPartition]
    new PartitionReader[InternalRow] {
      private val it = ReplicationSourceV2.parseDiff(
        java.nio.file.Paths.get(p.path), p.seq)
      private var row: InternalRow = _
      override def next(): Boolean = { val h = it.hasNext; if (h) row = it.next(); h }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
