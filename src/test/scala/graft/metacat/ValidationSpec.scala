package graft.metacat

import graft.mql.SparkTestBase
import Validation.{Category, Constraint}

/** Pins the reference's `validate_metadata` control flow
  * (validation.py:42-147): check precedence, element-wise list
  * validation, and the category closure of the server-side flow
  * (data_handler.py:603-627). */
class ValidationSpec extends SparkTestBase {

  private def errorsFor(metaJson: String, cs: Seq[Constraint]): Seq[String] = {
    import spark.implicits._
    Validation.validate(
      Seq(("f1", metaJson)).toDF("fid", "metadata_json"), cs)
      .collect().map(_.getString(1)).toSeq
  }

  private def catErrors(metaJson: String, cats: Seq[Category]): Seq[String] = {
    import spark.implicits._
    Validation.categoryViolations(
      Seq(("f1", metaJson)).toDF("fid", "metadata_json"), cats)
      .collect().map(_.getString(1)).toSeq
  }

  test("values present skips pattern/min/max (reference else-branch)") {
    val c = Seq(Constraint("a.x", typ = Some("int"), values = Nil,
      numValues = Seq(500), min = Some(0), max = Some(10)))
    // 500 violates max but IS the enum value -> reference accepts
    assert(errorsFor("""{"a.x":500}""", c).isEmpty)
    assert(errorsFor("""{"a.x":7}""", c).exists(_.contains("enumeration")))
  }

  test("type mismatch reports only the type error") {
    val c = Seq(Constraint("a.x", typ = Some("int"), min = Some(100)))
    val errs = errorsFor("""{"a.x":"tiny"}""", c)
    assert(errs.size == 1 && errs.head.contains("declared type int"))
  }

  test("declared type any accepts everything, no value checks") {
    val c = Seq(Constraint("a.x", typ = Some("any"), min = Some(100),
      pattern = Some("zzz")))
    assert(errorsFor("""{"a.x":1}""", c).isEmpty)
    assert(errorsFor("""{"a.x":"nope"}""", c).isEmpty)
  }

  test("boolean/list/dict typed parameters skip enum and range checks") {
    val cs = Seq(
      Constraint("a.b", typ = Some("boolean"), values = Seq("true")),
      Constraint("a.l", typ = Some("list"), min = Some(100)),
      Constraint("a.d", typ = Some("dict"), pattern = Some("x")))
    assert(errorsFor("""{"a.b":false,"a.l":[1],"a.d":{"k":1}}""", cs).isEmpty)
  }

  test("pattern applies only to text types and is start-anchored (re.match)") {
    // no declared type -> pattern not checked (validation.py:119 gates on typ)
    assert(errorsFor("""{"a.x":"nope"}""",
      Seq(Constraint("a.x", pattern = Some("t[0-9]")))).isEmpty)
    val txt = Seq(Constraint("a.x", typ = Some("text"), pattern = Some("t[0-9]")))
    assert(errorsFor("""{"a.x":"t5-suffix-ok"}""", txt).isEmpty) // prefix match
    assert(errorsFor("""{"a.x":"xt5"}""", txt).exists(_.contains("pattern")))
  }

  test("list values validate element-wise for min/max and pattern") {
    val rng = Seq(Constraint("a.n", typ = Some("int[]"), min = Some(0), max = Some(10)))
    assert(errorsFor("""{"a.n":[0,5,10]}""", rng).isEmpty)
    assert(errorsFor("""{"a.n":[0,11]}""", rng).exists(_.contains("above max")))
    assert(errorsFor("""{"a.n":[-1,5]}""", rng).exists(_.contains("below min")))
    val pat = Seq(Constraint("a.t", typ = Some("text[]"), pattern = Some("t[0-9]")))
    assert(errorsFor("""{"a.t":["t1","t2"]}""", pat).isEmpty)
    assert(errorsFor("""{"a.t":["t1","no"]}""", pat).exists(_.contains("pattern")))
  }

  // ---- category closure ----

  private val cats = Seq(
    Category("core", restricted = true, constraints = Seq(
      Constraint("core.run", typ = Some("int"), min = Some(0)),
      Constraint("core.tag"))),
    Category("open", restricted = false, constraints = Seq(
      Constraint("open.x", typ = Some("int")))))

  test("restricted category rejects undeclared parameters, accepts declared") {
    assert(catErrors("""{"core.run":5,"core.tag":"t"}""", cats).isEmpty)
    assert(catErrors("""{"core.other":1}""", cats)
      .exists(_.contains("not allowed in restricted category core")))
    // declared parameters still validate against their definitions
    assert(catErrors("""{"core.run":-3}""", cats).exists(_.contains("below min")))
  }

  test("non-restricted category allows undeclared params but checks declared ones") {
    assert(catErrors("""{"open.anything":"ok"}""", cats).isEmpty)
    assert(catErrors("""{"open.x":"not-int"}""", cats)
      .exists(_.contains("declared type int")))
  }

  test("nearest existing ancestor's restricted flag governs unknown subcategories") {
    // core.sub is not a category; ancestor core IS and is restricted
    assert(catErrors("""{"core.sub.k":1}""", cats)
      .exists(_.contains("category core is restricted")))
    // open.sub.k walks to non-restricted open -> allowed
    assert(catErrors("""{"open.sub.k":1}""", cats).isEmpty)
    // unrelated category paths have no categories at all -> allowed
    assert(catErrors("""{"free.k":1}""", cats).isEmpty)
  }

  test("dot-less keys are rejected (parameter without a category)") {
    assert(catErrors("""{"nocat":1}""", cats).exists(_.contains("without a category")))
    assert(catErrors("""{"nocat":1}""", Nil).exists(_.contains("without a category")))
  }

  // ---- the catalog's rejections, message for message ----

  private lazy val cat = {
    val root = java.nio.file.Files.createTempDirectory("graft-validation-").toString
    val c = new ParquetCatalog(spark, root)
    c.createCategory("c", restricted = true, definitionsJson =
      """{"n":{"type":"int","min":0,"max":10},"e":{"values":["x","y"]},""" +
        """"p":{"type":"text","pattern":"t[0-9]"},"t":{"type":"int"}}""")
    c.createDataset("v", "ds")
    c
  }

  private lazy val requiring = {
    val root = java.nio.file.Files.createTempDirectory("graft-validation-req-").toString
    val c = new ParquetCatalog(spark, root)
    c.createCategory("q", definitionsJson = """{"r":{"type":"text","required":true}}""")
    c
  }

  /** a literal declare batch of (fid, metadata_json) rows */
  private def batch(rows: (String, String)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    rows.toDF("fid", "metadata_json")
      .withColumn("namespace", lit("v"))
      .withColumn("name", concat(col("fid"), lit(".dat")))
      .withColumn("creator", lit("t"))
      .withColumn("size", lit(1L))
      .withColumn("created_timestamp", to_timestamp(lit("2026-01-01 00:00:00")))
  }

  private def rejection(f: => Unit): String =
    intercept[IllegalArgumentException](f).getMessage

  // (case, catalog, metadata JSON, the error the catalog must report)
  private lazy val badMetadata = Seq(
    ("bare key", cat, """{"nodot":1}""", "nodot: metadata parameter without a category"),
    ("restricted category", cat, """{"c.zz":1}""",
      "c.zz: parameter not allowed in restricted category c"),
    ("restricted ancestor", cat, """{"c.sub.k":1}""", "c.sub.k: category c is restricted"),
    ("type", cat, """{"c.t":"str"}""", "c.t: value does not conform to declared type int"),
    ("enum", cat, """{"c.e":"z"}""", "c.e: value not in enumeration"),
    ("pattern", cat, """{"c.p":"nope"}""", "c.p: value does not match pattern t[0-9]"),
    ("min", cat, """{"c.n":-1}""", "c.n: value below min 0.0"),
    ("max", cat, """{"c.n":11}""", "c.n: value above max 10.0"),
    ("required", requiring, """{"q.other":"x"}""", "q.r: required parameter missing"))

  test("declareFiles and updateFileMeta reject each bad metadata with its exact message") {
    for ((what, c, meta, err) <- badMetadata) {
      assert(rejection(c.declareFiles(batch("f1" -> meta))) ==
        s"metadata validation failed: $err (file f1)", what)
      assert(rejection(c.updateFileMeta(Seq("f1"), meta)) ==
        s"metadata validation failed: $err (file patch)", what)
    }
  }

  test("a multi-row batch reports key errors before constraint errors, then the first bad row") {
    // f1 breaks a constraint, f2 a key rule: the key error wins
    assert(rejection(cat.declareFiles(batch("f0" -> """{"c.n":1}""",
        "f1" -> """{"c.n":11}""", "f2" -> """{"nodot":1}"""))) ==
      "metadata validation failed: nodot: metadata parameter without a category (file f2)")
    // two constraint errors: the first bad row's first error
    assert(rejection(cat.declareFiles(batch("f0" -> """{"c.n":1}""",
        "f1" -> """{"c.e":"z","c.n":11}""", "f2" -> """{"c.t":"s"}"""))) ==
      "metadata validation failed: c.n: value above max 10.0 (file f1)")
  }

  test("updateDataset rejects a bare metadata key with its exact message") {
    assert(rejection(cat.updateDataset("v", "ds", Some("""{"ds.ok":1,"bare":2}"""))) ==
      "metadata parameter without a category: bare")
  }

  test("checks of literal batches and patches run no Spark job") {
    def jobs(f: => Unit): Int = JobBudget.jobs(spark.sparkContext)(f)
    val (_, c, meta, _) = badMetadata.find(_._1 == "max").get
    rejection(c.updateFileMeta(Seq("f1"), meta)) // warm the category cache
    val rows = batch("f0" -> """{"c.n":1}""", "f1" -> meta)
    assert(jobs(rejection(c.declareFiles(rows))) == 0)
    assert(jobs(rejection(c.updateFileMeta(Seq("f1"), meta))) == 0)
    assert(jobs(rejection(cat.updateDataset("v", "ds", Some("""{"bare":2}""")))) == 0)
    assert(jobs(cat.updateDataset("v", "ds", Some("""{"ds.ok":3}"""))) == 0)
  }
}
