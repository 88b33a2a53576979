package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for the reference's binary geo database (S15):
  *
  * {{{ spark.read.format("graft-geo").load("/path/qqzeng-ip-utf8.dat") }}}
  *
  * → `(start_ip, end_ip, continent, …, lat)` rows, ready for
  * [[graft.dns.Dims.enrichGeo]] or the BETWEEN-join strategy. The
  * reference instead loads this file as an opaque per-executor singleton
  * (IpSearch.java:20-28) — invisible to the engine, unqueryable, re-read by
  * every JVM. As a table the dim participates in pruning, pushdown and
  * planning like any other source.
  *
  * Scale shape: the driver reads only the 16-byte header plus 12 B × records
  * of index (content strings are never touched at planning), splits the
  * record range into `recordsPerSplit` chunks, and prunes chunks against
  * pushed `start_ip`/`end_ip` range filters — a point-lookup style predicate
  * reads one chunk. Executors mmap the file and decode only the columns the
  * scan requires (verified in GeoDatSourceSpec: a 2-column projection never
  * materializes region strings).
  */
class GeoDatSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-geo"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GeoDat.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-geo: .load(path) is required"))
    new GeoDatTable(path)
  }
}

final class GeoDatTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft-geo(`$path`)"
  override def schema(): StructType = GeoDat.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GeoDatScanBuilder(path,
      options.getInt("recordsPerSplit", 262144))
}

final class GeoDatScanBuilder(path: String, recordsPerSplit: Int)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters {

  private var required: StructType = GeoDat.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept ip-range comparisons for chunk pruning; everything is returned
    * as residual so Spark still applies exact row-level filtering. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def prunable(f: Filter): Boolean = f match {
      case EqualTo(a, _: Number) => a == "start_ip" || a == "end_ip"
      case GreaterThan(a, _: Number) => a == "start_ip" || a == "end_ip"
      case GreaterThanOrEqual(a, _: Number) => a == "start_ip" || a == "end_ip"
      case LessThan(a, _: Number) => a == "start_ip" || a == "end_ip"
      case LessThanOrEqual(a, _: Number) => a == "start_ip" || a == "end_ip"
      case _ => false
    }
    pushed = filters.filter(prunable)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new GeoDatScan(path, required, pushed, recordsPerSplit)
}

/** One split of contiguous index records, annotated with its ip coverage
  * ([minStart, maxEnd]) for planning-time pruning. */
final case class GeoDatPartition(first: Int, count: Int,
                                 minStart: Long, maxEnd: Long) extends InputPartition

final class GeoDatScan(path: String, required: StructType,
                       pushed: Array[Filter], recordsPerSplit: Int)
  extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-geo $path, columns=${required.fieldNames.mkString(",")}"

  /** Conservative overlap test of a chunk's [minStart, maxEnd] against the
    * pushed comparisons: any row of the chunk COULD satisfy `f`. */
  private def mayOverlap(p: GeoDatPartition, f: Filter): Boolean = {
    def lo(a: String) = if (a == "start_ip") p.minStart else p.minStart // end >= start
    def hi(a: String) = p.maxEnd
    f match {
      case EqualTo(a, v: Number) => v.longValue() >= lo(a) && v.longValue() <= hi(a)
      case GreaterThan(a, v: Number) => hi(a) > v.longValue()
      case GreaterThanOrEqual(a, v: Number) => hi(a) >= v.longValue()
      case LessThan(a, v: Number) => lo(a) < v.longValue()
      case LessThanOrEqual(a, v: Number) => lo(a) <= v.longValue()
      case _ => true
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val buf = GeoDat.mmap(path)
    val header = GeoDat.readHeader(buf)
    val n = header.recordCount
    val parts = (0 until n by recordsPerSplit).map { first =>
      val count = math.min(recordsPerSplit, n - first)
      var maxEnd = 0L
      var i = 0
      while (i < count) { // index area only: 12 B/record, content untouched
        val (_, e, _, _) = GeoDat.record(buf, header, first + i)
        if (e > maxEnd) maxEnd = e
        i += 1
      }
      GeoDatPartition(first, count, GeoDat.record(buf, header, first)._1, maxEnd)
    }
    parts.filter(p => pushed.forall(f => mayOverlap(p, f))).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GeoDatReaderFactory(path, required.fieldNames)
}

final class GeoDatReaderFactory(path: String, columns: Array[String])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GeoDatReader(path, partition.asInstanceOf[GeoDatPartition], columns)
}

/** mmap-backed record reader: decodes only the requested columns — ip bounds
  * come from the fixed-width index record; the '|'-separated region string
  * is fetched and split ONLY when an attribute column is required. */
final class GeoDatReader(path: String, part: GeoDatPartition,
                         columns: Array[String])
  extends PartitionReader[InternalRow] {

  private val buf = GeoDat.mmap(path)
  private val header = GeoDat.readHeader(buf)
  private val attrIdx: Map[String, Int] = GeoDat.attrNames.zipWithIndex.toMap
  private val needsContent = columns.exists(attrIdx.contains)
  private var i = 0
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (i >= part.count) return false
    val (start, end, cOff, cLen) = GeoDat.record(buf, header, part.first + i)
    val attrs: Array[String] =
      if (needsContent) GeoDat.content(buf, cOff, cLen).split("\\|", -1)
      else null
    val values = columns.map {
      case "start_ip" => start
      case "end_ip" => end
      case a =>
        val k = attrIdx(a)
        if (attrs != null && k < attrs.length) UTF8String.fromString(attrs(k))
        else null
    }
    row = new GenericInternalRow(values.asInstanceOf[Array[Any]])
    i += 1
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}
