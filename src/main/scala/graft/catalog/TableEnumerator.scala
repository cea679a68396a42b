package graft.catalog

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** One table in the data-root catalog. */
case class CatalogEntry(schema: String, name: String, path: String)

/** Catalog enumeration over a directory of parquet tables — the engine's
  * analog of the reference's `pg_class`/`information_schema` scans
  * (`/root/reference/src/listTables.tsx:329-348,256-267`). Ordering matches
  * the reference's `ORDER BY table_schema, table_name` (`:345`).
  */
object TableEnumerator {

  /** List `<root>/<name>.parquet` entries (files or directories). */
  def list(spark: SparkSession, root: String, schema: String = "public"): Seq[CatalogEntry] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Seq.empty
    fs.listStatus(rootPath)
      .filter(st => st.getPath.getName.endsWith(".parquet") && !st.getPath.getName.startsWith("_"))
      .map(st => CatalogEntry(schema, st.getPath.getName.stripSuffix(".parquet"), st.getPath.toString))
      .sortBy(e => (e.schema, e.name))
      .toSeq
  }

  /** Estimated row count from parquet footer metadata only — no data pages
    * are read. This is the engine's analog of `pg_class.reltuples`
    * (`/root/reference/src/listTables.tsx:336-345`), except parquet footers
    * are exact, so "estimated" mode is both fast AND right.
    */
  def footerRowCount(spark: SparkSession, tablePath: String): Long =
    mapFiles(spark, dataFiles(spark.sparkContext.hadoopConfiguration, new Path(tablePath)))(
      (conf, f) => withFooter(conf, f)(_.getBlocks.asScala.map(_.getRowCount).sum)).sum

  /** `read` applied to every file: on the driver for small file counts, as
    * one job over executors above [[DistributeThreshold]] — at 100 TB a
    * table can have 10⁵–10⁶ files and a driver-side loop would be the
    * bottleneck. Executors see the SESSION's Hadoop conf (credentials, fs
    * schemes) — a default Configuration() works on local paths only. */
  private[graft] def mapFiles[T: ClassTag](spark: SparkSession, files: Seq[Path])(
      read: (Configuration, Path) => T): Seq[T] = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (files.size <= DistributeThreshold) files.map(read(conf, _))
    else {
      val props = confProps(conf)
      spark.sparkContext
        .parallelize(files.map(_.toString), math.max(1, files.size / 16))
        .mapPartitions { it =>
          val c = confFromProps(props)
          it.map(p => read(c, new Path(p)))
        }
        .collect().toSeq
    }
  }

  /** `f` over the footer of one parquet file (metadata only). */
  private[graft] def withFooter[T](conf: Configuration, file: Path)(f: ParquetMetadata => T): T = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try f(reader.getFooter)
    finally reader.close()
  }

  private def confProps(conf: Configuration): Seq[(String, String)] = {
    val it = conf.iterator()
    val b = Seq.newBuilder[(String, String)]
    while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
    b.result()
  }

  private def confFromProps(props: Seq[(String, String)]): Configuration = {
    val c = new Configuration(false)
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private[graft] val DistributeThreshold = 64

  private[graft] def dataFiles(conf: Configuration, p: Path): Seq[Path] = {
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq(p)
    else
      fs.listStatus(p)
        .iterator
        .filter(s => !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
        .flatMap(s => if (s.isDirectory) dataFiles(conf, s.getPath) else Seq(s.getPath))
        .toSeq
  }
}
