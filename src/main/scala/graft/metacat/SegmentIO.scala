package graft.metacat

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{AnalysisException, DataFrame, GraftShim, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Parquet I/O for mutation-sized frames, on the driver when they are
  * small. A one-row commit written by a Spark job costs a job, its
  * stages and its commit protocol (~140 ms warm, local[3]) for what the
  * same `ParquetFileFormat` writer does on the driver in ~20 ms; reading
  * a one-row segment back through `spark.read…collect()` likewise costs
  * a job where the format's own reader takes ~20 ms. Small frames
  * therefore stay on the driver, and bulk ones keep the Spark path.
  *
  * Files written here are the files a Spark write of the same frame
  * would leave: the same file schema (every field nullable, Spark's row
  * metadata in the footer, the session's codec, Variant through Spark's
  * write support), part files named `part-00000-<uuid>-c000<ext>`
  * (unique per write — [[OccLog.folded]] identifies a segment's content
  * by its file names), one part file per partition directory, and
  * partition directories named as Spark names them. */
private[metacat] object SegmentIO {

  /** most rows a stage writes on the driver; a larger frame takes the
    * Spark write */
  val MaxDriverRows = 10000

  /** process-wide count of the files [[Reader]]s have read — tests read
    * it to check that a fold refresh read nothing */
  private[graft] val filesRead = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Write `mk()`'s rows to the fresh directory `dest` (partitioned by
    * `partitionCols`, Spark's `key=value` layout), replacing whatever a
    * failed attempt left there. A failure whose cause is a vanished file
    * (the frame's listing raced a vacuum) is retried with a fresh plan
    * from `mk`, the remedy Delta prescribes for reads racing VACUUM. */
  def stage(spark: SparkSession, mk: () => DataFrame, dest: Path,
      partitionCols: Seq[String] = Nil): Unit = {
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var attempt = 0
    while (true) {
      try {
        write(spark, mk(), dest, partitionCols)
        return
      } catch {
        case e: Throwable if OccLog.fileVanished(e) && attempt < 5 =>
          attempt += 1
          fs.delete(dest, true)
          Thread.sleep(10L * attempt)
      }
    }
  }

  private def write(spark: SparkSession, df: DataFrame, dest: Path,
      partitionCols: Seq[String]): Unit = {
    // partition directories are named on the driver for string columns
    val driverSide = partitionCols.forall(c => df.schema(c).dataType == StringType)
    val qe = df.queryExecution
    qe.optimizedPlan match {
      case _ if !driverSide => sparkWrite(OccLog.foldSized(spark, df), dest, partitionCols)
      case l: LocalRelation if qe.analyzed.deterministic =>
        if (l.data.size <= MaxDriverRows)
          writeOnDriver(spark, df.schema, l.data, dest, partitionCols)
        else sparkWrite(OccLog.foldSized(spark, df), dest, partitionCols)
      case p if p.stats.rowCount.exists(_ > MaxDriverRows) =>
        sparkWrite(OccLog.foldSized(spark, df), dest, partitionCols)
      case _ =>
        // one evaluation of the plan: its rows are kept until the write
        // is done, so the bulk fallback writes them instead of running
        // the plan a second time
        val rows = qe.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
        try collectBounded(spark, rows) match {
          case Right(small) => writeOnDriver(spark, df.schema, small, dest, partitionCols)
          case Left(bytes) => sparkWrite(OccLog.foldSized(spark,
            GraftShim.dataFrame(spark, rows, df.schema, bytes)), dest, partitionCols)
        } finally rows.unpersist(blocking = false)
    }
  }

  /** the bulk path, laid out by [[OccLog.foldSized]] (parts from the
    * frame's size) */
  private def sparkWrite(df: DataFrame, dest: Path, partitionCols: Seq[String]): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(dest.toString)
  }

  /** `rows` on the driver when there are at most [[MaxDriverRows]] of
    * them, else their in-memory size in bytes — in one job. A task whose
    * partition holds more than the bound sends only its size, so no task
    * sends more than [[MaxDriverRows]] rows; the driver keeps rows only
    * while the running total stays within the bound. */
  private def collectBounded(spark: SparkSession,
      rows: RDD[InternalRow]): Either[BigInt, Seq[InternalRow]] = {
    val parts = new Array[Array[InternalRow]](rows.getNumPartitions)
    var total = 0L
    var bytes = BigInt(0)
    spark.sparkContext.runJob(rows,
      (it: Iterator[InternalRow]) => {
        val kept = Array.newBuilder[InternalRow]
        var n = 0L
        var size = 0L
        it.foreach { r =>
          n += 1
          size += (r match {
            case u: UnsafeRow => u.getSizeInBytes.toLong
            case _ => 8L * r.numFields
          })
          if (n <= MaxDriverRows) kept += r
        }
        (n, size, if (n > MaxDriverRows) null else kept.result())
      },
      (i: Int, res: (Long, Long, Array[InternalRow])) => {
        total += res._1
        bytes += res._2
        if (total <= MaxDriverRows) parts(i) = res._3
        else parts.indices.foreach(parts(_) = null)
      })
    if (total > MaxDriverRows) Left(bytes) else Right(parts.toSeq.flatMap(_.toSeq))
  }

  /** `t` with every field, element and value nullable — the file schema
    * a Spark write records */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  private def writeOnDriver(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow], dest: Path, partitionCols: Seq[String]): Unit = {
    val partIdx = partitionCols.map(schema.fieldIndex)
    val dataIdx = schema.fields.indices.filterNot(partIdx.contains)
    val dataSchema = nullable(StructType(dataIdx.map(schema(_)))).asInstanceOf[StructType]
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("graft", 0, TaskType.MAP, 0, 0))
    val fs = dest.getFileSystem(job.getConfiguration)
    if (fs.exists(dest)) fs.delete(dest, true)
    fs.mkdirs(dest)
    def partDir(r: InternalRow): String = partIdx.zip(partitionCols).map { case (i, c) =>
      ExternalCatalogUtils.getPartitionPathString(c,
        if (r.isNullAt(i)) null else r.getUTF8String(i).toString)
    }.mkString("/")
    // an unpartitioned write always leaves one file, so an empty frame
    // still records its schema; a partitioned one leaves a file per
    // partition value present
    val groups: Seq[(String, Seq[InternalRow])] =
      if (partIdx.isEmpty) Seq("" -> rows)
      else rows.groupBy(partDir).toSeq.sortBy(_._1)
    val types = dataIdx.map(schema(_).dataType)
    for ((dir, group) <- groups) {
      val parent = if (dir.isEmpty) dest else new Path(dest, dir)
      val file = new Path(parent,
        s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}")
      val out = factory.newInstance(file.toString, dataSchema, ctx)
      try group.foreach { r =>
        out.write(if (partIdx.isEmpty) r
          else new GenericInternalRow(dataIdx.indices.map(j =>
            r.get(dataIdx(j), types(j))).toArray[Any]))
      } finally out.close()
    }
  }

  /** A driver-side reader of unpartitioned parquet files with `schema`,
    * returning their rows projected to `cols`, through the format's own
    * reader. Building it broadcasts the session's whole Hadoop
    * configuration, so a log keeps one reader for its lifetime
    * ([[OccLog]]) instead of paying a broadcast per read; the session's
    * SQL and Hadoop settings are the ones in force when it is built. */
  final class Reader(spark: SparkSession, schema: StructType, cols: Seq[String]) {
    private val hconf = spark.sessionState.newHadoopConf()
    private val required = StructType(cols.map(schema(_)))
    private val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
      new StructType(), required, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hconf)
    private val toRow = CatalystTypeConverters.createToScalaConverter(required)

    /** the rows of `files`; a file that is gone fails with `spark.read`'s
      * PATH_NOT_FOUND, which [[OccLog.fileVanished]] accepts */
    def apply(files: Seq[String]): Array[Row] = {
      filesRead.addAndGet(files.size.toLong)
      val statuses = files.map { f =>
        val p = new Path(f)
        try p.getFileSystem(hconf).getFileStatus(p)
        catch {
          case e: java.io.FileNotFoundException =>
            throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> f), Some(e))
        }
      }
      statuses.iterator.flatMap { st =>
        val it = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath),
          0L, st.getLen, Array.empty[String], st.getModificationTime, st.getLen))
        try it.map(r => toRow(r).asInstanceOf[Row]).toVector
        finally it match {
          case c: java.io.Closeable => c.close()
          case _ => ()
        }
      }.toArray
    }
  }
}
