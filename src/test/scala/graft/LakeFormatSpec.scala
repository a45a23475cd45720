package graft

import graft.sources.{LakeWriter, StateStore}
import graft.streaming.LakeSink
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/**
 * The lake's one file format: every site that lands a lake table writes
 * parquet whose column chunks are ZSTD (read from each file's footer),
 * and the rows read back equal the rows landed. The overwrite sites keep
 * their dynamic-overwrite and SharedStage-invalidation behaviour, and a
 * caller's own write keeps the session's codec.
 */
class LakeFormatSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-format-$tag").toString

  /** 600 rows over 3 partitions `p`, with a hex digest column. */
  private lazy val input: DataFrame = spark.range(600).select(
    col("id"),
    sha2(col("id").cast("string"), 256).as("row_key"),
    (col("id") % 3).cast("int").as("p"),
    (col("id") * 0.5).as("v"))

  /** Sorted rows of `df` over `cols`, order-free. */
  private def rows(df: DataFrame, cols: Seq[String] = input.columns.toSeq): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** Parquet data files under `dir`, recursively, outside hidden dirs. */
  private def parquetFiles(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    Files.walk(root).iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .filterNot(p => root.relativize(p).iterator().asScala.exists(_.toString.startsWith(".")))
      .map(_.toString)
  }

  /** The codec of every column chunk of every row group in `file`. */
  private def codecs(file: String): Seq[String] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file),
      spark.sparkContext.hadoopConfiguration))
    try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(_.getCodec.name))
    finally r.close()
  }

  private def assertZstd(site: String, files: Seq[String]): Unit = {
    assert(files.nonEmpty, s"$site: no parquet files")
    val seen = files.flatMap(codecs)
    assert(seen.nonEmpty && seen.forall(_ == "ZSTD"),
      s"$site: codecs ${seen.groupBy(identity).map { case (c, n) => s"$c×${n.size}" }}")
  }

  /** A landing site: land `df` under `dir`, return the table read back
   * and the data files that this write made. */
  private case class Site(name: String, land: (DataFrame, String) => (DataFrame, Seq[String]))

  private def stateOf(df: DataFrame): DataFrame = df.select("row_key", "v")

  private def mergeState(root: String, version: String, deltas: DataFrame): Unit =
    StateStore.merge(spark, root, version, stateOf(deltas), keys = Seq("row_key"),
      sumCols = Seq("v"), nBuckets = 4)

  private val sites: Seq[Site] = Seq(
    Site("LakeWriter.writePartitioned", (df, dir) => {
      LakeWriter.writePartitioned(df, dir, Seq("p"), keyCol = Some("id"))
      (LakeWriter.read(spark, dir), parquetFiles(dir))
    }),
    Site("LakeWriter.writePartitionedVersioned", (df, dir) => {
      LakeWriter.writePartitionedVersioned(df, dir, "0001", Seq("p"))
      (LakeWriter.readVersioned(spark, dir), parquetFiles(dir))
    }),
    Site("LakeWriter.publishSnapshot", (df, dir) => {
      LakeWriter.publishSnapshot(Map("facts" -> df, "ids" -> df.select("id")), dir, "0001")
      assertZstd("publishSnapshot ids", parquetFiles(s"$dir/v=0001/ids"))
      (LakeWriter.readSnapshotTable(spark, dir, "facts"), parquetFiles(s"$dir/v=0001/facts"))
    }),
    Site("LakeWriter.publishSnapshotOcc", (df, dir) => {
      val v = LakeWriter.publishSnapshotOcc(Map("facts" -> df), dir)
      (LakeWriter.readSnapshotTable(spark, dir, "facts"), parquetFiles(s"$dir/v=$v"))
    }),
    Site("LakeWriter.writeBucketed", (df, _) => {
      LakeWriter.writeBucketed(df, "lake_format_bucketed", "id", nBuckets = 4)
      val t = spark.table("lake_format_bucketed")
      (t, t.inputFiles.toSeq.map(f => new Path(f).toUri.getPath))
    }),
    Site("LakeWriter.writeClustered", (df, dir) => {
      LakeWriter.writeClustered(df, dir, Seq("row_key"), Seq("p"), filesPerPartition = 2)
      (LakeWriter.read(spark, dir), parquetFiles(dir))
    }),
    Site("LakeWriter.writeZOrdered", (df, dir) => {
      LakeWriter.writeZOrdered(df, dir, Seq("id", "v"), nFiles = 4)
      (LakeWriter.read(spark, dir), parquetFiles(dir))
    }),
    Site("LakeWriter.writeZOrdered partitioned", (df, dir) => {
      LakeWriter.writeZOrdered(df, dir, Seq("id", "v"), nFiles = 4, partitionCols = Seq("p"))
      (LakeWriter.read(spark, dir), parquetFiles(dir))
    }),
    Site("StateStore.merge", (df, dir) => {
      mergeState(dir, "0001", df)
      (StateStore.read(spark, dir).get, parquetFiles(dir))
    }),
    Site("StateStore.deleteKeys", (df, dir) => {
      mergeState(dir, "0001", df)
      val gone = df.filter(col("id") % 10 === 0)
      StateStore.deleteKeys(spark, dir, "0002", gone.select("row_key"), Seq("row_key"),
        nBuckets = 4)
      val read = StateStore.read(spark, dir).get
      // the deleted keys are gone; the survivors come back whole below
      assert(read.join(gone.select("row_key"), "row_key").isEmpty)
      (read.unionByName(stateOf(gone)), parquetFiles(s"$dir/v=0002"))
    }),
    Site("StateStore.compactSnapshot", (df, dir) => {
      mergeState(dir, "0001", df)
      StateStore.compactSnapshot(spark, dir, "0002", Seq("row_key"), nBuckets = 4)
      (StateStore.read(spark, dir).get, parquetFiles(s"$dir/v=0002"))
    }),
    Site("LakeSink.startAppend", (df, dir) => {
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[(Long, String, Int, Double)]
      val q = LakeSink.startAppend(stream.toDS().toDF(input.columns.toSeq: _*), dir,
        tmp("ckpt"), Seq("p"))
      try {
        stream.addData(df.as[(Long, String, Int, Double)].collect().toSeq)
        q.processAllAvailable()
      } finally q.stop()
      (LakeWriter.read(spark, dir), parquetFiles(dir))
    }),
    Site("LakeSink.appendBatch", (df, dir) => {
      LakeSink.appendBatch(df, 0L, dir, Seq("p"))
      (LakeWriter.read(spark, dir).drop("_ingest_batch"), parquetFiles(dir))
    }))

  for (site <- sites) test(s"${site.name} lands ZSTD parquet and reads back every row") {
    try {
      val (back, files) = site.land(input, s"${tmp("site")}/t")
      assertZstd(site.name, files)
      // a state store keeps only its keys and merged columns
      val cols =
        if (site.name.startsWith("StateStore")) Seq("row_key", "v") else input.columns.toSeq
      assert(rows(back, cols) === rows(input, cols), site.name)
    } finally spark.sql("DROP TABLE IF EXISTS lake_format_bucketed")
  }

  /** The sites whose write replaces the partitions it carries. */
  private val overwrites: Seq[(String, (DataFrame, String) => Unit)] = Seq(
    "LakeWriter.writePartitioned" -> ((df, dir) =>
      LakeWriter.writePartitioned(df, dir, Seq("p"))),
    "LakeWriter.writeClustered" -> ((df, dir) =>
      LakeWriter.writeClustered(df, dir, Seq("row_key"), Seq("p"))),
    "LakeWriter.writeZOrdered partitioned" -> ((df, dir) =>
      LakeWriter.writeZOrdered(df, dir, Seq("id", "v"), nFiles = 4, partitionCols = Seq("p"))),
    "LakeSink.appendBatch (replayed batch)" -> ((df, dir) =>
      LakeSink.appendBatch(df, 7L, dir, Seq("p"))))

  for ((name, write) <- overwrites)
    test(s"$name rewrites only the partitions it carries and drops shared frames") {
      val dir = s"${tmp("overwrite")}/t"
      write(input, dir)
      var computes = 0
      // a pinned signature: only the writer's invalidation can drop the
      // entry, a new file listing cannot
      def shared() = SharedStage.getPinned(dir, "t", "pinned") {
        computes += 1
        LakeWriter.read(spark, dir).select(input.columns.map(col).toSeq: _*)
      }
      try {
        assert(shared().count() === 600L)
        val p1 = input.filter(col("p") === 1).withColumn("v", col("v") * 10)
        write(p1, dir)
        assert(computes === 1)
        val want = input.filter(col("p") =!= 1).unionByName(p1)
        assert(rows(shared()) === rows(want), name)
        assert(computes === 2, s"$name did not invalidate the shared frame")
        assertZstd(name, parquetFiles(dir))
      } finally SharedStage.clear()
    }

  test("the codec is a per-write option: the session's own writes keep its codec") {
    val dir = s"${tmp("session")}/t"
    val before = spark.conf.getAll
    LakeWriter.writePartitioned(input, s"${tmp("lake")}/t", Seq("p"))
    assert(spark.conf.getAll === before)
    input.write.parquet(dir)
    val session = spark.conf.get("spark.sql.parquet.compression.codec").toUpperCase
    assert(parquetFiles(dir).flatMap(codecs).toSet === Set(session))
    assert(session !== "ZSTD")
  }
}
