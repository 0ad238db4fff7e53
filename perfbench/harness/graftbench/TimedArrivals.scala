package graftbench

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReportsSourceMetrics}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.arrivals.ArrivalsDataSource

/** The `arrivals` source with its three driver-side calls timed from
  * outside: `latestOffset` (rename of the previous batch, listing,
  * admission), `planInputPartitions` and `commit`. Everything else is
  * delegated unchanged, including the source's own progress metrics.
  * Used as `format(classOf[TimedArrivals].getName)` by the traced run;
  * spans go to [[TimedArrivals.trace]], set by the harness before the
  * stream starts (Spark instantiates providers by reflection). */
class TimedArrivals extends TableProvider {
  private val inner = new ArrivalsDataSource

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    inner.inferSchema(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val table = inner.getTable(schema, partitioning, properties).asInstanceOf[SupportsRead]
    new Table with SupportsRead {
      override def name(): String = table.name()
      override def schema(): StructType = table.schema()
      override def capabilities(): util.Set[TableCapability] = table.capabilities()
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
        val builder = table.newScanBuilder(options)
        () => {
          val scan = builder.build()
          new Scan {
            override def readSchema(): StructType = scan.readSchema()
            override def toMicroBatchStream(checkpoint: String): MicroBatchStream =
              new TimedArrivals.Stream(scan.toMicroBatchStream(checkpoint))
          }
        }
      }
    }
  }
}

object TimedArrivals {
  @volatile var trace: Trace = new Trace(false)

  private def timed[T](name: String)(body: => T): T =
    trace.timed(s"arrivals.$name", 0L, "source")(_ => body)._1

  final class Stream(inner: MicroBatchStream) extends MicroBatchStream with ReportsSourceMetrics {
    override def latestOffset(): Offset = timed("latestOffset")(inner.latestOffset())
    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
      timed("planInputPartitions")(inner.planInputPartitions(start, end))
    override def commit(end: Offset): Unit = timed("commit")(inner.commit(end))
    override def createReaderFactory(): PartitionReaderFactory = inner.createReaderFactory()
    override def initialOffset(): Offset = inner.initialOffset()
    override def deserializeOffset(json: String): Offset = inner.deserializeOffset(json)
    override def stop(): Unit = inner.stop()
    override def metrics(latest: util.Optional[Offset]): util.Map[String, String] =
      inner.asInstanceOf[ReportsSourceMetrics].metrics(latest)
  }
}
