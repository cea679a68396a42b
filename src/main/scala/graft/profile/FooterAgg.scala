package graft.profile

import java.time.{Instant, LocalDate, LocalDateTime}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, ParquetMetadata}
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, RebaseDateTime}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._

import graft.catalog.TableEnumerator

/** Table statistics from parquet footers alone: ONE footer read per data
  * file serves the Spark schema, the row count and the MIN/MAX of every
  * column whose footer statistics are exact — zero row groups
  * decompressed, zero Spark jobs below
  * [[graft.catalog.TableEnumerator.DistributeThreshold]] files (one
  * distributed footer-read job above it). This is the engine's true
  * "estimated mode" fast path (the reference's analog reads
  * `pg_class.reltuples`, its `src/listTables.tsx:336-345`): at
  * 100 TB a footer-only profile touches kilobytes per file instead of the
  * data itself.
  *
  * A column is served only when every file's statistics are exact and
  * convert to the very value a Spark scan would put in a Row (same class,
  * same value). Everything else — strings (parquet may TRUNCATE binary
  * stats), decimals, unsigned ints, INT96, files lacking statistics,
  * float/double chunks whose NaN min/max parquet dropped, dates and
  * timestamps before the 1582-10-15 calendar cutover (where Spark's
  * read-side rebase applies) — is left to the caller's residual scan. */
object FooterAgg {

  /** What the footers say about one table. `ranges` holds only the columns
    * the footers serve exactly: `Some((min, max))`, or `None` when every
    * value is null. An ABSENT column is not servable and must be scanned. */
  case class TableFooters(schema: StructType, rows: Long, ranges: Map[String, Option[(Any, Any)]])

  def read(spark: SparkSession, tablePath: String): TableFooters = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = TableEnumerator.dataFiles(conf, new Path(tablePath))
    require(files.nonEmpty, s"no parquet data files under $tablePath")
    val sqlConf = spark.sessionState.conf
    val java8 = sqlConf.datetimeJava8ApiEnabled
    // Spark's non-merging schema inference reads the first file's footer
    // (its Spark-schema metadata key, else a conversion of the parquet
    // schema); so does this, on the driver, in the same single read
    val (fileSchema, first) = TableEnumerator.withFooter(conf, files.head) { footer =>
      (ParquetFileFormat.readSchemaFromFooter(new Footer(files.head, footer),
        new ParquetToSparkSchemaConverter(sqlConf)), summarize(footer, java8))
    }
    val perFile = first +: TableEnumerator.mapFiles(spark, files.tail)(
      (c, f) => TableEnumerator.withFooter(c, f)(summarize(_, java8)))
    // partition columns live in directory names, not in footers
    val schema =
      if (files.exists(_.getParent.getName.contains("="))) spark.read.parquet(tablePath).schema
      else fileSchema
    val ranges = schema.fields.toSeq.flatMap { f =>
      perFile.map(_.stats.getOrElse(f.name, Unusable)).reduce(merge) match {
        case AllNull => Some(f.name -> None)
        case HasRange(mn, mx) if rowClass(f.dataType, java8).contains(mn.getClass) =>
          Some(f.name -> Some((mn, mx)))
        case _ => None
      }
    }.toMap
    TableFooters(schema, perFile.map(_.rows).sum, ranges)
  }

  /** The class a collected Row holds for `dt`, for the types footers serve. */
  private def rowClass(dt: DataType, java8: Boolean): Option[Class[_]] = dt match {
    case ByteType => Some(classOf[java.lang.Byte])
    case ShortType => Some(classOf[java.lang.Short])
    case IntegerType => Some(classOf[java.lang.Integer])
    case LongType => Some(classOf[java.lang.Long])
    case FloatType => Some(classOf[java.lang.Float])
    case DoubleType => Some(classOf[java.lang.Double])
    case DateType => Some(if (java8) classOf[LocalDate] else classOf[java.sql.Date])
    case TimestampType => Some(if (java8) classOf[Instant] else classOf[java.sql.Timestamp])
    case TimestampNTZType => Some(classOf[LocalDateTime])
    case _ => None
  }

  /** Footer verdict for one column, per chunk, per file and per table. */
  private sealed trait FooterStat extends Serializable
  private case object Unusable extends FooterStat
  private case object AllNull extends FooterStat
  private case class HasRange(min: Any, max: Any) extends FooterStat

  private case class FileFooter(rows: Long, stats: Map[String, FooterStat])

  /** Merges two verdicts of the same column. Schema evolution can hand the
    * same column DIFFERENT value classes per file (INT32 → Integer in one
    * footer, INT64 → Long in another): that column alone degrades to
    * unusable — the residual scan picks it up — instead of voiding the
    * whole table's profile. */
  private def merge(a: FooterStat, b: FooterStat): FooterStat = (a, b) match {
    case (Unusable, _) | (_, Unusable) => Unusable
    case (AllNull, x) => x
    case (x, AllNull) => x
    case (HasRange(amin, amax), HasRange(bmin, bmax)) =>
      if (amin.getClass != bmin.getClass) Unusable
      else HasRange(
        if (compare(amin, bmin) <= 0) amin else bmin,
        if (compare(amax, bmax) >= 0) amax else bmax)
  }

  private def compare(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)

  private def summarize(footer: ParquetMetadata, java8: Boolean): FileFooter = {
    val blocks = footer.getBlocks.asScala.toSeq
    val stats = footer.getFileMetaData.getSchema.getFields.asScala.collect {
      case t if t.isPrimitive =>
        val chunks = blocks.map(_.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(t.getName))))
        t.getName -> (if (chunks.contains(None)) Unusable
          else chunks.flatten.map(chunkStat(t.asPrimitiveType, _, java8)).foldLeft(AllNull: FooterStat)(merge))
    }.toMap
    FileFooter(blocks.map(_.getRowCount).sum, stats)
  }

  private def chunkStat(prim: PrimitiveType, chunk: ColumnChunkMetaData, java8: Boolean): FooterStat = {
    val s = chunk.getStatistics
    if (s == null) Unusable
    else if (s.hasNonNullValue)
      (for {
        mn <- convertStat(prim, s.genericGetMin, java8)
        mx <- convertStat(prim, s.genericGetMax, java8)
      } yield HasRange(mn, mx)).getOrElse(Unusable)
    // parquet drops a float/double min/max that would be NaN, and an INT96
    // min/max, keeping only the null count: such a chunk holds values, so
    // it is not all-null
    else if (s.isNumNullsSet && s.getNumNulls == chunk.getValueCount) AllNull
    else Unusable
  }

  /** Footer value → the Java value a Spark scan would put in a Row for the
    * same column (Spark's own converters), so footer-served profiles render
    * byte-identically to scan-served ones. None = not handled exactly. */
  private def convertStat(prim: PrimitiveType, v: Any, java8: Boolean): Option[Any] =
    prim.getLogicalTypeAnnotation match {
      case null => v match {
        // plain numerics (no annotation): already the scan-visible value
        case _: java.lang.Long | _: java.lang.Integer |
             _: java.lang.Double | _: java.lang.Float => Some(v)
        case _ => None
      }
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if i.isSigned =>
        val n = v.asInstanceOf[Number]
        i.getBitWidth match {
          case 8 => Some(java.lang.Byte.valueOf(n.byteValue))
          case 16 => Some(java.lang.Short.valueOf(n.shortValue))
          case _ => Some(v) // INT32 → Integer, INT64 → Long
        }
      case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
        val days = v.asInstanceOf[Integer].intValue
        if (days < RebaseDateTime.lastSwitchJulianDay) None
        else Some(if (java8) DateTimeUtils.daysToLocalDate(days) else DateTimeUtils.toJavaDate(days))
      case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        // a corrupt/sentinel footer value (e.g. Long.MaxValue millis from a
        // broken writer) must yield None → Unusable → residual scan, not an
        // ArithmeticException that degrades the whole table to CountError
        try {
          val micros = ts.getUnit match {
            case TimeUnit.MILLIS => Math.multiplyExact(v.asInstanceOf[Long], 1000L)
            case TimeUnit.MICROS => v.asInstanceOf[Long]
            case TimeUnit.NANOS  => return Some(v.asInstanceOf[Long]) // nanosAsLong: read AS bigint
          }
          if (micros < RebaseDateTime.lastSwitchJulianTs) None
          else if (!ts.isAdjustedToUTC) Some(DateTimeUtils.microsToLocalDateTime(micros))
          else if (java8) Some(DateTimeUtils.microsToInstant(micros))
          else Some(DateTimeUtils.toJavaTimestamp(micros))
        } catch { case _: ArithmeticException | _: java.time.DateTimeException => None }
      case _ => None // decimal/string/unsigned/etc: not exact, or not trusted
    }
}
