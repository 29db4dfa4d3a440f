package graft.metacat

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The metacat-shaped catalog the MQL engine runs over.
  *
  * Schema follows the reference file row (`metacat/db/schema.sql:51-66`,
  * see SURVEY.md §1.2): fixed attributes + schema-less `metadata` carried as
  * a Spark 4 `VariantType` column (SURVEY §1.4), plus the two edge tables
  * for file provenance (`schema.sql:77-84`) and dataset hierarchy
  * (`schema.sql:123-136`) and the M:N `files_datasets` (`schema.sql:138-147`).
  *
  * At 100 TB the `files` table is the only big table; `datasets`,
  * `namespaces` and `queries` are broadcastable dimensions and the edge
  * tables are narrow (two string columns). A production layout would
  * partition `files` by `namespace` and bucket by `fid` so BFQ joins and
  * provenance hops co-locate; the derived in-memory catalog below keeps the
  * same schema so plans carry over unchanged.
  */
trait MetacatCatalog {
  /** id, namespace, name, metadata(Variant), creator, created_timestamp,
    * size, checksums, updated_by, updated_timestamp, retired,
    * retired_timestamp, retired_by */
  def files: DataFrame
  /** fid, dataset_namespace, dataset_name */
  def filesDatasets: DataFrame
  /** namespace, name, frozen, monotonic, creator, created_timestamp,
    * description, metadata(Variant), file_count */
  def datasets: DataFrame
  /** parent_fid, child_fid */
  def parentChild: DataFrame
  /** parent_namespace, parent_name, child_namespace, child_name */
  def datasetsParentChild: DataFrame
  /** namespace, name, source, creator, created_timestamp, metadata(Variant) */
  def queries: DataFrame
  /** MQL source of a named query, for `files selected by ns:name`
    * parse-time splicing (mql10.py:907-923). */
  def namedQuerySource(namespace: String, name: String): Option[String]

  /** Variant shredding: metadata keys materialized as typed columns of
    * `files` (key → (column name, value class)). Predicates on these keys
    * compile to plain typed comparisons — at scale they reach parquet
    * min/max stats instead of decoding Variant per row. Only shred keys
    * that are always present with a uniform type. */
  def shredding: Map[String, (String, graft.mql.MetaCompiler.ShredType)] = Map.empty

  /** Daemon-materialized per-namespace file counts (`namespace,
    * file_count, refreshed_timestamp`), when the catalog maintains them
    * (the reference's namespaces.file_count, `schema.sql:48`). None ⇒ the
    * estimate path falls back to an on-demand aggregation. */
  def namespaceCountsStored: Option[DataFrame] = None

  /** The namespace dimension (`name, description, owner_user, creator,
    * created_timestamp, file_count` — `schema.sql:35-49`; owner_role and
    * the ACL machinery are webserver/auth scope). Default: derived from
    * the files table, one row per distinct namespace with ownership
    * unknown — writable catalogs override with their stored table. */
  def namespaces: DataFrame =
    files.select(col("namespace").as("name")).distinct()
      .select(col("name"),
        concat(lit("namespace "), col("name")).as("description"),
        lit(null).cast("string").as("owner_user"),
        lit(null).cast("string").as("creator"),
        lit(null).cast("timestamp").as("created_timestamp"),
        lit(null).cast("long").as("file_count"))
}

/** Deterministic metacat catalog derived from the driver's `orders` table
  * (TESTDATA.md) so every MQL query has a DuckDB-oracle twin over the same
  * parquet input — see [[OracleCatalog]] for the SQL-side derivation, which
  * MUST stay value-identical to this one.
  *
  * Derivation (k = o_orderkey, dense 0..N-1; ck = o_custkey):
  *   fid       = 'F' || lpad(k, 8, '0')          (zero-padded: string order == numeric order)
  *   namespace = 'ns'   || (ck % 4)
  *   name      = 'f_' || k || '.dat'
  *   size      = k*100 + ck%100
  *   creator   = 'user' || (ck % 10)
  *   created_timestamp = o_orderdate
  *   retired   = (k % 97 == 0)
  *   metadata (JSON -> Variant; conditional keys and mixed types on purpose):
  *     core.run      int     k % 1000
  *     core.status   string  o_orderstatus
  *     core.priority string  o_orderpriority
  *     core.runs     int[]   [run, run+1000, run+2000][0 until 1+k%3]
  *     core.bits     dict    {"muon": k%2, "electron": (k+1)%2}
  *     core.ts       number  epoch seconds of o_orderdate
  *     data.tags     str[]   ['tag'||(k%7) .. 'tag'||((k+3)%7)][0 until 1+k%4]
  *     data.price    float   o_totalprice
  *     data.weight   MIXED   k%2==0 -> int k%100, else string 'w'||(k%100)
  *     opt.flag      bool    present iff k%5==0; value k%10==0
  *     opt.note      string  present iff k%7==0; 'note-'||status||'-'||(k%13)
  *
  * Dataset membership: every file is in dsns:ds(k%5) and in dsns:all.
  * Dataset DAG: dsns:top -> dsns:all -> dsns:ds0..ds4.
  * File provenance: heap edges parent(c) = (c-1)/2 for c >= 1.
  */
class DerivedCatalog(spark: SparkSession, dir: String) extends MetacatCatalog {
  import DerivedCatalog._

  private def orders: DataFrame = spark.read.parquet(s"$dir/orders.parquet")

  /** the driver ships one parquet file per table = one input split; the
    * JSON→Variant derivation is CPU-bound per row, so spread it before
    * materializing the cache */
  private def ordersSpread: DataFrame =
    orders.repartition(spark.sparkContext.defaultParallelism)

  /** The derived `files` table, served from a PHYSICALLY SHREDDED store:
    * the JSON→Variant derivation (the "ingest") runs once per source
    * fingerprint and is persisted to parquet with the Variant column and
    * the typed shred columns stored physically — the posture of the
    * reference's always-on GIN indexes (`schema.sql:69-70`): pay the
    * parse at WRITE, never at read. Catalog open in every later session
    * is a columnar scan of typed pages — zero JSON parsed. The session
    * cache on top makes repeat queries memory-speed; set
    * `SPARK_GRAFT_CATALOG_STORE=off` to force the old parse-per-session
    * in-memory build (the A/B knob for the two postures). */
  override lazy val files: DataFrame = cachedFiles(spark, dir, loadOrIngest)

  private def loadOrIngest: Either[DataFrame, DataFrame] = {
    val store = sys.env.getOrElse("SPARK_GRAFT_CATALOG_STORE", "/tmp/graft-catalog-store")
    if (store == "off") return Left(buildFiles)
    // the store is written SORTED on the hot shred keys (r14): selective
    // shred scans measured FLAT under growth only when row
    // groups carry narrow min/max ranges (sorted-shred 0.23→0.25 s vs
    // linear 0.63→1.79 s for unsorted Variant at 4× rows; PERFORMANCE.md
    // "Shredding-aware metadata pushdown, measured") — without the
    // sort the typed columns save the decode but every row group still
    // reads. sortWithinPartitions: no global shuffle (at 100 TB a total
    // sort would be the most expensive stage of ingest); each output
    // file is internally sorted, which is all row-group pruning needs.
    try Right(materializedFiles(spark, dir, store,
      buildFiles.sortWithinPartitions(shredSortCols.map(col): _*)))
    catch { case _: Throwable => Left(buildFiles) } // unwritable store ⇒ old path
  }

  /** physical sort order of the stored files table: the hot shred keys,
    * leading with `_s_core_run` (the dominant selective predicate) */
  private def shredSortCols: Seq[String] =
    shredding.values.map(_._1).toSeq.sorted

  private def buildFiles: DataFrame = {
    val k = col("o_orderkey")
    val ck = col("o_custkey")
    val run = k % 1000
    def s(c: Column): Column = c.cast("string")
    // JSON text assembled by hand: lets us express conditional keys and a
    // mixed-type field, which to_json(struct(...)) cannot.
    val metaJson = concat(
      lit("{\"core.run\":"), s(run),
      lit(",\"core.status\":\""), col("o_orderstatus"), lit("\""),
      lit(",\"core.priority\":\""), col("o_orderpriority"), lit("\""),
      lit(",\"core.runs\":["), s(run),
      when(k % 3 >= 1, concat(lit(","), s(run + 1000))).otherwise(lit("")),
      when(k % 3 === 2, concat(lit(","), s(run + 2000))).otherwise(lit("")),
      lit("]"),
      lit(",\"core.bits\":{\"muon\":"), s(k % 2),
      lit(",\"electron\":"), s((k + 1) % 2), lit("}"),
      lit(",\"core.ts\":"), s(unix_timestamp(col("o_orderdate"))),
      lit(",\"data.tags\":[\"tag"), s(k % 7), lit("\""),
      when(k % 4 >= 1, concat(lit(",\"tag"), s((k + 1) % 7), lit("\""))).otherwise(lit("")),
      when(k % 4 >= 2, concat(lit(",\"tag"), s((k + 2) % 7), lit("\""))).otherwise(lit("")),
      when(k % 4 === 3, concat(lit(",\"tag"), s((k + 3) % 7), lit("\""))).otherwise(lit("")),
      lit("]"),
      lit(",\"data.price\":"), s(col("o_totalprice")),
      lit(",\"data.weight\":"),
      when(k % 2 === 0, s(k % 100)).otherwise(concat(lit("\"w"), s(k % 100), lit("\""))),
      when(k % 5 === 0,
        concat(lit(",\"opt.flag\":"), when(k % 10 === 0, lit("true")).otherwise(lit("false"))))
        .otherwise(lit("")),
      when(k % 7 === 0,
        concat(lit(",\"opt.note\":\"note-"), col("o_orderstatus"), lit("-"), s(k % 13), lit("\"")))
        .otherwise(lit("")),
      lit("}"))
    ordersSpread.select(
      fid(k).as("fid"),
      concat(lit("ns"), s(ck % 4)).as("namespace"),
      concat(lit("f_"), s(k), lit(".dat")).as("name"),
      parse_json(metaJson).as("metadata"),
      concat(lit("user"), s(ck % 10)).as("creator"),
      col("o_orderdate").as("created_timestamp"),
      (k * 100 + ck % 100).as("size"),
      map(lit("md5"), md5(fid(k))).as("checksums"),
      concat(lit("user"), s(ck % 10)).as("updated_by"),
      col("o_orderdate").as("updated_timestamp"),
      (k % 97 === 0).as("retired"),
      lit(null).cast("timestamp").as("retired_timestamp"),
      lit(null).cast("string").as("retired_by"),
      // shredded copies of hot always-present metadata keys (see shredding)
      run.as("_s_core_run"),
      col("o_orderstatus").as("_s_core_status"),
      unix_timestamp(col("o_orderdate")).as("_s_core_ts"),
      col("o_totalprice").as("_s_data_price"))
  }

  override val shredding: Map[String, (String, graft.mql.MetaCompiler.ShredType)] = {
    import graft.mql.MetaCompiler._
    Map(
      "core.run" -> (("_s_core_run", ShredNum)),
      "core.status" -> (("_s_core_status", ShredStr)),
      "core.ts" -> (("_s_core_ts", ShredNum)),
      "data.price" -> (("_s_data_price", ShredNum)))
  }

  /** deterministic namespace dimension over the derived ns0..ns3:
    * owner_user = 'owner' || (index % 2) — value-reproducible by the
    * DuckDB oracle (which recomputes the same expression from mc_files) */
  override lazy val namespaces: DataFrame =
    files.select(col("namespace").as("name")).distinct()
      .select(col("name"),
        concat(lit("namespace "), col("name")).as("description"),
        concat(lit("owner"),
          (substring(col("name"), 3, 10).cast("int") % 2).cast("string")).as("owner_user"),
        lit("graft").as("creator"),
        lit(null).cast("timestamp").as("created_timestamp"),
        lit(null).cast("long").as("file_count"))

  override lazy val filesDatasets: DataFrame = {
    val k = col("o_orderkey")
    val shard = orders.select(
      fid(k).as("fid"),
      lit("dsns").as("dataset_namespace"),
      concat(lit("ds"), (k % 5).cast("string")).as("dataset_name"))
    val all = orders.select(
      fid(k).as("fid"),
      lit("dsns").as("dataset_namespace"),
      lit("all").as("dataset_name"))
    shard.unionByName(all)
  }

  override lazy val datasets: DataFrame = {
    import spark.implicits._
    // (name, frozen, monotonic, metaJson)
    val rows = Seq(
      ("top", false, false, """{"ds.kind":"root","ds.index":-1}"""),
      ("all", false, true, """{"ds.kind":"all","ds.index":0}""")) ++
      (0 until 5).map(i => (s"ds$i", i % 2 == 0, false, s"""{"ds.kind":"shard","ds.index":$i}"""))
    rows.toDF("name", "frozen", "monotonic", "meta_json").select(
      lit("dsns").as("namespace"),
      col("name"),
      col("frozen"),
      col("monotonic"),
      lit("admin").as("creator"),
      to_timestamp(lit("2026-01-01 00:00:00")).as("created_timestamp"),
      concat(lit("dataset "), col("name")).as("description"),
      parse_json(col("meta_json")).as("metadata"),
      lit(null).cast("long").as("file_count"))
  }

  override lazy val parentChild: DataFrame = {
    val c = orders.select(col("o_orderkey").as("ck_"))
      .filter(col("ck_") >= 1)
    c.select(fid(expr("(ck_ - 1) div 2")).as("parent_fid"), fid(col("ck_")).as("child_fid"))
  }

  override lazy val datasetsParentChild: DataFrame = {
    import spark.implicits._
    (Seq(("top", "all")) ++ (0 until 5).map(i => ("all", s"ds$i")))
      .toDF("pn", "cn")
      .select(lit("dsns").as("parent_namespace"), col("pn").as("parent_name"),
        lit("dsns").as("child_namespace"), col("cn").as("child_name"))
  }

  override lazy val queries: DataFrame = {
    import spark.implicits._
    namedQueries.toSeq.map { case ((ns, n), src) => (ns, n, src) }
      .toDF("namespace", "name", "source")
      .select(col("namespace"), col("name"), col("source"),
        lit("admin").as("creator"),
        to_timestamp(lit("2026-01-01 00:00:00")).as("created_timestamp"),
        parse_json(concat(lit("{\"q.owner\":\"admin\",\"q.len\":"),
          length(col("source")).cast("string"), lit("}"))).as("metadata"))
  }

  override def namedQuerySource(namespace: String, name: String): Option[String] =
    namedQueries.get((namespace, name))
}

object DerivedCatalog {
  private val filesCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  /** Left = in-memory build (must persist: re-deriving per query would
    * re-parse the JSON every time); Right = served from the shredded
    * parquet store — NOT persisted by default: per-query cost is a pruned
    * columnar scan of typed pages, the same plan shape that holds when
    * the files table no longer fits in memory.
    * `SPARK_GRAFT_CATALOG_PERSIST=1` additionally caches the store read
    * (small-deployment mode: catalog open pays the cache build). */
  private def cachedFiles(spark: SparkSession, dir: String,
      build: => Either[DataFrame, DataFrame]): DataFrame =
    filesCache.getOrElseUpdate((System.identityHashCode(spark).toString, dir),
      build.fold(_.persist(),
        df => if (sys.env.get("SPARK_GRAFT_CATALOG_PERSIST").contains("1"))
          df.persist() else df))

  /** seconds the last [[materializedFiles]] call spent building + writing
    * the store (0 when it was already warm) — lets Bench report the
    * one-time ingest separately from the per-session open */
  @volatile var lastIngestSecs: Double = 0.0

  /** Serve `files` from an on-disk shredded store keyed by the source
    * directory and fingerprinted by the source parquet's (length, mtime):
    * warm ⇒ read back (no parse anywhere); cold/stale ⇒ run `build`, write
    * it (Variant + shred columns stored physically), atomically swap in,
    * read back. Write-to-temp + rename keeps a concurrent reader safe on
    * any rename-atomic store. */
  private def materializedFiles(spark: SparkSession, dir: String,
      store: String, build: => DataFrame): DataFrame = {
    val hconf = spark.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(s"$dir/orders.parquet")
    val sfs = src.getFileSystem(hconf)
    val st = sfs.getFileStatus(src)
    // v3: derivation logic version — bump when buildFiles changes shape
    // (v2→v3: store sorted on hot shred keys so stale unsorted stores
    // rebuild instead of silently serving the unprunable layout)
    val fp = s"v3:${st.getLen}:${st.getModificationTime}"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val dst = new org.apache.hadoop.fs.Path(s"$store/files-$key")
    val fpFile = new org.apache.hadoop.fs.Path(dst, "_FINGERPRINT")
    val fs = dst.getFileSystem(hconf)

    def readFp(): Option[String] =
      if (!fs.exists(fpFile)) None
      else {
        val in = fs.open(fpFile)
        try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
      }

    lastIngestSecs = 0.0
    if (!readFp().contains(fp)) {
      val t0 = System.nanoTime()
      val tmp = new org.apache.hadoop.fs.Path(
        s"$store/files-$key.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      build.write.mode("overwrite").parquet(tmp.toString)
      val out = fs.create(new org.apache.hadoop.fs.Path(tmp, "_FINGERPRINT"), true)
      try out.write(fp.getBytes("UTF-8")) finally out.close()
      if (fs.exists(dst)) fs.delete(dst, true)
      if (!fs.rename(tmp, dst)) { // concurrent builder won the rename
        fs.delete(tmp, true)
        if (!readFp().contains(fp))
          throw new java.io.IOException(s"cannot install catalog store $dst")
      }
      lastIngestSecs = math.rint((System.nanoTime() - t0) / 1e6) / 1e3
    }
    spark.read.parquet(dst.toString)
  }

  private def fid(k: Column): Column =
    concat(lit("F"), lpad(k.cast("string"), 8, "0"))

  /** Stored named queries (`schema.sql:149-160`); spliced at parse time. */
  val namedQueries: Map[(String, String), String] = Map(
    ("q", "runs_low") -> "files from dsns:ds1 where core.run < 300",
    ("q", "flagged") -> "files from dsns:all where opt.flag present")
}
