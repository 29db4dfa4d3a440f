package graft.metacat

import graft.mql.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** [[SegmentIO]]'s driver-side writer and reader against Spark's own:
  * for every log schema and the partitioned `files` base table, a frame
  * staged on the driver and the same frame written by a Spark job must
  * read back through `spark.read` with the same rows and schema, and the
  * driver reader must return what `spark.read…collect()` returns. */
class SegmentIOSpec extends SparkTestBase {

  private lazy val dir = Files.createTempDirectory("graft-segio-").toString
  private def fresh(tag: String) =
    new Path(s"$dir/$tag-${java.util.UUID.randomUUID()}")

  /** a value of `f`'s type for row `i`; every third row null outside
    * `__op`/`__seq` (edges rows then carry wildcard null endpoints) */
  private def gen(f: StructField, i: Column): Column = {
    val v: Column = f.dataType match {
      case StringType => concat(lit(s"${f.name}-"), i.cast("string"))
      case LongType => i * 7L
      case IntegerType => (i % 5).cast("int")
      case DoubleType => i / 4.0
      case BooleanType => i % 2 === 0
      case TimestampType => (lit(1767225600L) + i).cast("timestamp")
      case VariantType => parse_json(concat(lit("""{"core.run":"""), i.cast("string"),
        lit(""","core.status":"O","data.tags":["a","b"]}""")))
      case MapType(StringType, StringType, _) => map(lit("md5"), md5(i.cast("string")))
      case other => throw new IllegalArgumentException(s"no generator for $other")
    }
    (if (f.name.startsWith("__")) v else when(i % 3 =!= 2, v)).cast(f.dataType).as(f.name)
  }

  private def frame(schema: StructType, n: Int): DataFrame =
    spark.range(n).select(schema.fields.map(f => gen(f, col("id"))).toIndexedSeq: _*)

  /** the same rows as a driver literal (its plan optimizes to a
    * LocalRelation) */
  private def literal(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toList.asJava, df.schema)

  private def sparkWrite(df: DataFrame, dest: Path, partitionCols: Seq[String]): Unit = {
    val w = df.coalesce(1).write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(dest.toString)
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def dataFiles(d: Path): Seq[Path] = {
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(d).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory) dataFiles(st.getPath)
      else if (n.startsWith("_") || n.startsWith(".")) Nil
      else Seq(st.getPath)
    }.sortBy(_.toString)
  }

  private def subdirs(d: Path): Set[String] = {
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(d).filter(_.isDirectory).map(_.getPath.getName).toSet
  }

  private def jobs(f: => Unit): Int = JobBudget.jobs(spark.sparkContext)(f)

  /** stage `df` both ways and compare what `spark.read` sees */
  private def differential(what: String, df: DataFrame,
      partitionCols: Seq[String] = Nil): Unit = {
    val bySpark = fresh("spark")
    sparkWrite(df, bySpark, partitionCols)
    val want = spark.read.parquet(bySpark.toString)
    for ((how, in) <- Seq("driver literal" -> literal(df), "collected frame" -> df)) {
      val byDriver = fresh("driver")
      val n = jobs(SegmentIO.stage(spark, () => in, byDriver, partitionCols))
      assert(n == (if (how == "driver literal") 0 else 1), s"$what ($how): $n jobs")
      val got = spark.read.parquet(byDriver.toString)
      assert(got.schema == want.schema, s"$what ($how): schema\n${got.schema}\nvs\n${want.schema}")
      assert(rowsOf(got) == rowsOf(want), s"$what ($how): rows differ")
      assert(subdirs(byDriver) == subdirs(bySpark), s"$what ($how): partition directories")
      val names = dataFiles(byDriver).map(_.getName)
      assert(names.forall(_.matches("part-00000-[0-9a-f-]{36}-c000\\..*parquet")),
        s"$what ($how): part-file names $names")
      assert(names.size == math.max(1, subdirs(byDriver).size),
        s"$what ($how): one part file per partition directory, got $names")
    }
  }

  private val shredding = Map(
    "core.run" -> (("_s_core_run", graft.mql.MetaCompiler.ShredNum)),
    "core.status" -> (("_s_core_status", graft.mql.MetaCompiler.ShredStr)))

  private val logSchemas: Seq[(String, StructType)] = Seq(
    "files log" -> ParquetCatalog.filesLogSchema(shredding),
    "members log" -> ParquetCatalog.MembersLogSchema,
    "edges log" -> ParquetCatalog.EdgesLogSchema,
    "admin log" -> ParquetCatalog.AdminLogSchema,
    "dedup log" -> DedupLog.Schema)

  for ((what, schema) <- logSchemas)
    test(s"the $what stages on the driver as Spark writes it, and reads back the same") {
      val df = frame(schema, 12)
      differential(what, df)
      // the driver reader against spark.read over the same files, full
      // width and projected
      val seg = fresh("read")
      SegmentIO.stage(spark, () => literal(df), seg)
      val files = dataFiles(seg).map(_.toString)
      for (cols <- Seq(schema.fieldNames.toSeq, Seq("__seq", schema.fieldNames.head))) {
        val want = spark.read.schema(schema).parquet(files: _*)
          .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
        var got: Array[Row] = null
        assert(jobs { got = new SegmentIO.Reader(spark, schema, cols)(files) } == 0)
        assert(got.map(_.toString).sorted.toSeq == want, s"$what: driver read of $cols")
        assert(got.forall(_.schema == StructType(cols.map(schema(_)))))
      }
    }

  test("the namespace-partitioned files table stages on the driver with Spark's directory names") {
    val schema = ParquetCatalog.filesStoredSchema(shredding)
    val df = frame(schema, 9).withColumn("namespace",
      when(col("size") === 0L, lit("odd/ns=1 %x"))
        .when(col("size") === 7L, lit(null).cast("string"))
        .otherwise(lit("plain")))
    differential("files table", df, Seq("namespace"))
    val dirs = subdirs({ val d = fresh("dirs"); SegmentIO.stage(spark, () => df, d, Seq("namespace")); d })
    assert(dirs == Set("namespace=odd%2Fns%3D1 %25x",
      "namespace=__HIVE_DEFAULT_PARTITION__", "namespace=plain"), dirs)
  }

  test("part-file names differ across two writes of the same rows") {
    val df = literal(frame(ParquetCatalog.MembersLogSchema, 3))
    val a = fresh("a")
    val b = fresh("b")
    SegmentIO.stage(spark, () => df, a)
    SegmentIO.stage(spark, () => df, b)
    assert(dataFiles(a).map(_.getName).toSet.intersect(dataFiles(b).map(_.getName).toSet).isEmpty)
  }

  test("an empty frame leaves one schema-carrying part file") {
    val schema = ParquetCatalog.MembersLogSchema
    val d = fresh("empty")
    val empty = literal(frame(schema, 0))
    assert(jobs(SegmentIO.stage(spark, () => empty, d)) == 0)
    assert(dataFiles(d).size == 1)
    assert(spark.read.parquet(d.toString).count() == 0L)
    assert(spark.read.parquet(d.toString).schema.fieldNames.toSeq == schema.fieldNames.toSeq)
  }

  test("a frame one row over the bound takes the Spark write") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("__seq", LongType)))
    val at = literal(frame(schema, SegmentIO.MaxDriverRows))
    val over = literal(frame(schema, SegmentIO.MaxDriverRows + 1))
    val atBound = fresh("at")
    val overBound = fresh("over")
    assert(jobs(SegmentIO.stage(spark, () => at, atBound)) == 0)
    assert(jobs(SegmentIO.stage(spark, () => over, overBound)) >= 1)
    // a non-literal frame over the bound: the bounded collect, then the write
    val scanned = fresh("scanned")
    assert(jobs(SegmentIO.stage(spark, () => frame(schema, SegmentIO.MaxDriverRows + 1),
      scanned)) >= 2)
    for ((d, n) <- Seq(atBound -> SegmentIO.MaxDriverRows,
        overBound -> (SegmentIO.MaxDriverRows + 1), scanned -> (SegmentIO.MaxDriverRows + 1)))
      assert(spark.read.parquet(d.toString).count() == n.toLong)
  }

  test("a bulk frame's plan runs once, and its write is sized by the rows' bytes") {
    val evaluated = spark.sparkContext.longAccumulator("segio-evaluated")
    val tap = udf { (x: Long) => evaluated.add(1L); x }
    val n = SegmentIO.MaxDriverRows + 1
    val d = fresh("bulk")
    SegmentIO.stage(spark, () => spark.range(0, n, 1, 4)
      .select(tap(col("id")).as("k"), lit(1L).as("__seq")), d)
    // the bounded collect's rows are written, not computed again
    assert(evaluated.value == n.toLong)
    // a few hundred KB over four partitions: one part file at the
    // default 128 MiB target
    assert(dataFiles(d).size == 1)
    assert(rowsOf(spark.read.parquet(d.toString)) ==
      rowsOf(spark.range(n).select(col("id").as("k"), lit(1L).as("__seq"))))
  }

  test("fold refreshes of new segments reuse the log's reader: no broadcast per read") {
    import spark.implicits._
    val schema = Seq(("x", 1L)).toDF("k", "v")
      .withColumn("__op", lit("upsert")).withColumn("__seq", lit(1L)).schema
    val log = new OccLog(spark, fresh("bcast").toString, "tlog", schema, None,
      foldSpec = Some(OccLog.FoldSpec(schema.fieldNames.toSeq, _.getString(0))))
    def commit(i: Int): Unit = log.commit(() => Seq((s"k$i", i.toLong)).toDF("k", "v"), "upsert")
    commit(0)
    log.folded() // the first read builds the reader
    // building a reader broadcasts the session's Hadoop configuration;
    // one built per read left one broadcast block per fold refresh
    val created = (1 to 10).flatMap { i =>
      commit(i)
      val before = org.apache.spark.TestBroadcasts.ids(spark.sparkContext)
      val read = SegmentIO.filesRead.get
      log.folded()
      assert(SegmentIO.filesRead.get - read == 1L, s"refresh $i reads the new segment only")
      org.apache.spark.TestBroadcasts.ids(spark.sparkContext) -- before
    }
    assert(created.isEmpty, s"10 fold refreshes created broadcasts ${created.sorted}")
    assert(log.folded().latest.size == 11)
  }
}
