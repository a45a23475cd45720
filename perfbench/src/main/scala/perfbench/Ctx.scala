package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.File
import scala.jdk.CollectionConverters._

/** Minimal JSON I/O over Jackson (which ships with Spark). */
object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: Double if d.isNaN || d.isInfinite => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  private def toScala(v: AnyRef): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> toScala(x.asInstanceOf[AnyRef]) }.toMap
    case l: java.util.List[_] => l.asScala.map(x => toScala(x.asInstanceOf[AnyRef])).toSeq
    case x => x
  }

  def read(path: String): Map[String, Any] =
    toScala(mapper.readValue(new File(path), classOf[java.util.Map[_, _]]))
      .asInstanceOf[Map[String, Any]]

  def write(path: String, v: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), toJava(v))
}

/** What a workload needs: the session, its data directory, the input
 * manifest the generator wrote, and the tracer. */
final case class Ctx(spark: SparkSession, data: String, manifest: Map[String, Any],
                     tracer: Tracer, cores: Int) {

  def section(k: String): Map[String, Any] = manifest(k).asInstanceOf[Map[String, Any]]

  /** Parquet data files under `path` (recursively): (count, bytes). With
   * `since` set, only files modified at or after that epoch millisecond. */
  def parquetFiles(path: String, since: Long = 0L): (Int, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new File(path))
      .filter(f => f.getName.endsWith(".parquet") && f.lastModified() >= since)
    (fs.size, fs.map(_.length).sum)
  }

  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(path))
  }

  /** Land `df` at `path` with `write`, inside a `sources.lake.write` span;
   * the traced run credits the files and bytes written to that span. */
  def land(table: String, path: String)(write: => Unit): Unit = {
    val t0 = System.currentTimeMillis()
    tracer.span(s"sources.lake.write:$table")(write)
    if (tracer.isEnabled) {
      val (n, b) = parquetFiles(path, t0)
      tracer.annotateLast("files_written", n)
      tracer.annotateLast("bytes_written", b.toDouble)
    }
  }

  /** Collected rows as JSON-able cells: dates as ISO strings, timestamps
   * as epoch seconds, numbers as numbers, arrays as lists. */
  def cells(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map(cell))

  private def cell(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => t.getTime / 1000.0 + (t.getNanos % 1000000) / 1e9
    case t: java.time.Instant => t.getEpochSecond + t.getNano / 1e9
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case s: scala.collection.Seq[_] => s.map(cell)
    case b: java.math.BigDecimal => b.doubleValue
    case x => x
  }

  /** Collect an answer frame for the checker. */
  def answer(df: DataFrame): Seq[Seq[Any]] = cells(df.collect())
}
