package graft.sources

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.ingest.{LocalDirObjectStoreFactory, ObjectStore, ObjectStoreFactory}
import scala.jdk.CollectionConverters._

/** DataSource V2 table over the object-store seam — both sides of the
  * reference's S3 surface (audit_data_ingest.py:169-187; SURVEY.md §7.3):
  *
  *  - BATCH_WRITE: rows of `(key string, data binary, metadata
  *    map<string,string>)` become objects with user metadata —
  *    `df.write.format("graft-objects").option("root", dir).mode("append").save()`
  *  - BATCH_READ: the landed corpus back as the same schema —
  *    `spark.read.format("graft-objects").option("root", dir)
  *    .option("prefix", "audit/").load()` — so decrypt/inflate compose
  *    with Catalyst (column pruning reaches the store: a key-only query
  *    never fetches bytes or metadata sidecars).
  *
  * One store client per task (the reference's one-boto3-client-per-thread,
  * :190-197); task retries re-put idempotently by key, giving the same
  * at-least-once semantics as the batch ingest core. Reads are idempotent.
  *
  * 100 TB posture: the driver holds key NAMES only (one listing per scan);
  * bytes move store→executor in the tasks. Partitions are round-robin
  * slices of the key list capped at 2× default parallelism — small
  * prefixes don't schedule thousands of empty tasks, large prefixes keep
  * every core busy (override with option `numPartitions`).
  */
class ObjectStoreSinkProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-objects"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ObjectStoreSinkProvider.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = new ObjectStoreTable(StoreOptions.factoryFrom(properties.get))
}

object ObjectStoreSinkProvider {
  val schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("data", BinaryType, nullable = false),
    StructField("metadata", MapType(StringType, StringType), nullable = true)
  ))
}

/** Resolves DSv2 options to an [[ObjectStoreFactory]] (the ingest seam) —
  * one place to grow new store kinds without touching the table plumbing.
  * `root` selects [[LocalDirObjectStoreFactory]]; `s3.bucket` (+endpoint,
  * region, credentials) selects [[graft.ingest.S3ObjectStoreFactory]]
  * (compiled against the public S3 REST API; unexercised in the
  * zero-egress CI — see its scaladoc).
  */
private[graft] object StoreOptions {
  def factoryFrom(get: String => String): ObjectStoreFactory = {
    def opt(k: String): Option[String] = Option(get(k)).filter(_.nonEmpty)
    opt("s3.bucket") match {
      case Some(bucket) =>
        def req(k: String): String =
          opt(k).getOrElse(throw new IllegalArgumentException(s"graft-objects s3 store requires option '$k'"))
        graft.ingest.S3ObjectStoreFactory(
          endpoint = req("s3.endpoint"),
          region = req("s3.region"),
          bucket = bucket,
          accessKey = req("s3.accesskey"),
          secretKey = req("s3.secretkey"),
          sessionToken = opt("s3.sessiontoken")
        )
      case None =>
        val root = opt("root")
        require(root.isDefined, "graft-objects requires option 'root' (local dir) or 's3.bucket'")
        LocalDirObjectStoreFactory(root.get)
    }
  }
}

private[sources] class ObjectStoreTable(factory: ObjectStoreFactory)
    extends Table with SupportsWrite with SupportsRead {
  override def name(): String = s"graft-objects($factory)"
  override def schema(): StructType = ObjectStoreSinkProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.BATCH_READ)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val cols = info.schema().fieldNames.toSeq
    require(
      cols == Seq("key", "data", "metadata"),
      s"graft-objects sink expects columns (key, data, metadata), got $cols"
    )
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new ObjectStoreBatchWrite(factory)
      }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val prefix = Option(options.get("prefix")).getOrElse("")
    val numPartitions = Option(options.get("numpartitions")).map(_.toInt)
    new ObjectStoreScanBuilder(factory, prefix, numPartitions)
  }
}

// ---------------------------------------------------------------- write

private[sources] class ObjectStoreBatchWrite(factory: ObjectStoreFactory) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    ObjectStoreWriterFactory(factory)
  // Objects are visible as soon as each task commits (object stores have
  // no atomic multi-object commit); the job-level commit is a no-op, like
  // the reference's per-file uploads inside a day batch.
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] case class ObjectStoreWriterFactory(factory: ObjectStoreFactory) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ObjectStoreDataWriter(factory.create())
}

private[sources] class ObjectStoreDataWriter(store: ObjectStore) extends DataWriter[InternalRow] {
  private var count = 0L

  override def write(row: InternalRow): Unit = {
    val key = row.getUTF8String(0).toString
    val data = row.getBinary(1)
    val metadata =
      if (row.isNullAt(2)) Map.empty[String, String]
      else {
        val m = row.getMap(2)
        val keys = m.keyArray()
        val vals = m.valueArray()
        (0 until m.numElements()).map { i =>
          keys.getUTF8String(i).toString -> vals.getUTF8String(i).toString
        }.toMap
      }
    store.put(key, data, metadata)
    count += 1
  }

  override def commit(): WriterCommitMessage = ObjectsWritten(count)
  override def abort(): Unit = ()
  override def close(): Unit = ()
}

case class ObjectsWritten(count: Long) extends WriterCommitMessage

// ----------------------------------------------------------------- read

private[sources] class ObjectStoreScanBuilder(
    factory: ObjectStoreFactory,
    prefix: String,
    numPartitions: Option[Int]
) extends ScanBuilder with SupportsPushDownRequiredColumns {
  // Column pruning reaches the store client: a projection of `key` alone
  // plans tasks that call neither get() nor getMetadata() — at 100 TB a
  // manifest query over the landed corpus moves key names, not bytes.
  private var required: StructType = ObjectStoreSinkProvider.schema

  override def pruneColumns(requiredSchema: StructType): Unit = { required = requiredSchema }

  override def build(): Scan = new Scan {
    override def readSchema(): StructType = required
    // Spark may call toBatch (and the Batch's plan methods) more than once
    // per query; cache both so the store is listed exactly once per scan —
    // against S3 a re-list is a paginated RPC and a key-set drift risk
    // between planning and execution.
    private lazy val batch = new ObjectStoreBatchScan(factory, prefix, required, numPartitions)
    override def toBatch: Batch = batch
  }
}

private[sources] case class ObjectKeysPartition(keys: Seq[String]) extends InputPartition

private[sources] class ObjectStoreBatchScan(
    factory: ObjectStoreFactory,
    prefix: String,
    required: StructType,
    numPartitions: Option[Int]
) extends Batch {
  // One listing per scan even if Spark re-plans: the partition layout is
  // decided from a single LIST snapshot (same fix as AuditBatchScan).
  private lazy val planned: Array[InputPartition] = {
    val keys = factory.create().listKeys(prefix) // names only, never bytes
    if (keys.isEmpty) Array.empty
    else {
      val spark = SparkSession.active
      val slices = numPartitions.getOrElse(
        math.max(1, math.min(keys.size, spark.sparkContext.defaultParallelism * 2))
      )
      val perSlice = math.max(1, math.ceil(keys.size.toDouble / slices).toInt)
      keys.grouped(perSlice).map(ObjectKeysPartition(_): InputPartition).toArray
    }
  }

  override def planInputPartitions(): Array[InputPartition] = planned

  override def createReaderFactory(): PartitionReaderFactory =
    ObjectStoreReaderFactory(factory, required.fieldNames)
}

private[sources] case class ObjectStoreReaderFactory(factory: ObjectStoreFactory, fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ObjectStoreRowReader(partition.asInstanceOf[ObjectKeysPartition].keys, factory.create(), fields)
}

/** One object per row, fetching ONLY the pruned columns: `data` costs a
  * get(), `metadata` a sidecar read, `key` is free (already listed).
  */
private[sources] class ObjectStoreRowReader(keys: Seq[String], store: ObjectStore, fields: Array[String])
    extends PartitionReader[InternalRow] {
  private val it = keys.iterator
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!it.hasNext) return false
    val key = it.next()
    val values: Array[Any] = fields.map {
      case "key" => UTF8String.fromString(key)
      case "data" => store.get(key)
      case "metadata" =>
        val md = store.getMetadata(key)
        new ArrayBasedMapData(
          new GenericArrayData(md.keys.map(UTF8String.fromString).toArray[Any]),
          new GenericArrayData(md.values.map(UTF8String.fromString).toArray[Any])
        )
      case other => throw new IllegalStateException(s"Unknown graft-objects column: $other")
    }
    current = new GenericInternalRow(values)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
