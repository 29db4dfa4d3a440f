package graft.metacat

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Write-time metadata validation — the declarative constraint system of
  * parameter categories / dataset requirements
  * (`metacat/util/validation.py:3-147`; category table `schema.sql:162-176`),
  * re-expressed as a distributed check: one pass over the candidate rows
  * produces a violations DataFrame (empty ⇒ valid). Enforced at WRITE time
  * only, never at query time — same posture as the reference.
  *
  * Check precedence mirrors `validate_metadata` exactly:
  *  - declared type `any` accepts everything (no value checks at all);
  *  - a type mismatch reports ONLY the type error (value checks skipped);
  *  - enum / pattern / min / max are all skipped for `boolean`,
  *    `boolean[]`, `list` and `dict` typed parameters;
  *  - when `values` is declared, pattern/min/max are NOT checked
  *    (validation.py:112-128 puts them in the else branch);
  *  - `pattern` applies only to `text` / `text[]` typed parameters and is
  *    START-anchored (`re.match`), not fully anchored;
  *  - list values validate element-wise for enum, pattern, min and max
  *    (`all(x ... for x in value)`, validation.py:113-141).
  */
object Validation {

  /** One parameter's declared constraints (types from validation.py:20).
    * Enumerations keep their JSON types: string entries match only string
    * values, numeric entries only numeric values (Python's `value in
    * values` — `"1" != 1` — and the engine's own numbers-never-coerce
    * rule, mql.rst:165-172). */
  final case class Constraint(
      key: String,
      typ: Option[String] = None, // int float text boolean dict list int[] float[] text[] boolean[] any
      min: Option[Double] = None,
      max: Option[Double] = None,
      values: Seq[String] = Nil, // string-typed enumeration entries
      numValues: Seq[Double] = Nil, // numeric enumeration entries
      boolValues: Seq[Boolean] = Nil, // boolean enumeration entries
      pattern: Option[String] = None, // start-anchored regexp for text
      required: Boolean = false) {
    def hasValues: Boolean =
      values.nonEmpty || numValues.nonEmpty || boolValues.nonEmpty
  }

  /** One parameter category (`schema.sql:162-176`): a dotted path owning
    * every parameter named `<path>.<name>`; `restricted` closes the
    * parameter set to the declared definitions (validation.py:26-48).
    * `constraints` carry FULL keys (`<path>.<name>`). */
  final case class Category(path: String, restricted: Boolean,
      constraints: Seq[Constraint])

  private def typeOk(v: Column, typ: String): Column = {
    def schemaIs(re: String) = schema_of_variant(v).rlike(re)
    typ match {
      case "any" => lit(true)
      case "int" => schemaIs("^(BIGINT|INT|SMALLINT|TINYINT)$")
      case "float" => schemaIs("^(DOUBLE|FLOAT|DECIMAL)")
      case "text" => schemaIs("^STRING$")
      case "boolean" => schemaIs("^BOOLEAN$")
      case "dict" => schemaIs("^OBJECT|^STRUCT")
      case "list" => schemaIs("^ARRAY")
      case "int[]" | "float[]" | "text[]" | "boolean[]" =>
        val elemRe = typ match {
          case "int[]" => "^(BIGINT|INT|SMALLINT|TINYINT)$"
          case "float[]" => "^(DOUBLE|FLOAT|DECIMAL|BIGINT|INT)" // numeric widening
          case "text[]" => "^STRING$"
          case _ => "^BOOLEAN$"
        }
        val arr = try_variant_get(v, "$", "array<variant>")
        arr.isNotNull && coalesce(
          forall(arr, x => schema_of_variant(x).rlike(elemRe)), lit(true))
      case other => throw new IllegalArgumentException(s"unknown declared type $other")
    }
  }

  /** violations for one row's metadata variant against one constraint;
    * null when the row passes */
  private def violation(meta: Column, c: Constraint): Column = {
    val v = try_variant_get(meta, s"$$['${c.key}']", "variant")
    val present = v.isNotNull
    val requiredCheck: Seq[(Column, String)] =
      Seq((lit(c.required) && !present, s"${c.key}: required parameter missing"))

    def fold(checks: Seq[(Column, String)]): Column =
      checks.foldLeft(lit(null).cast("string")) { case (acc, (bad, msg)) =>
        coalesce(acc, when(bad, lit(msg)))
      }

    // `any` short-circuits every value check (validation.py:54-55)
    if (c.typ.contains("any")) return fold(requiredCheck)

    val typeCheck = c.typ.map(t => (present && !typeOk(v, t),
      s"${c.key}: value does not conform to declared type $t")).toSeq
    // value checks run only when the declared type (if any) matched —
    // the reference's `if not type_mismatch` gate
    val typeFine = c.typ.map(t => typeOk(v, t)).getOrElse(lit(true))
    // ... and never for boolean/list/dict shaped declarations
    val skipAll = c.typ.exists(Set("boolean", "boolean[]", "list", "dict"))

    // strict extractions — a STRING variant "1" must NOT satisfy numeric
    // constraints via the cast (try_variant_get coerces; the schema guard
    // is what enforces numbers-never-coerce)
    def numOf(x: Column) = graft.mql.MetaCompiler.numericVariant(x)
    def strOf(x: Column) = graft.mql.MetaCompiler.stringVariant(x)

    // element-wise for list values, scalar otherwise (`all(...)`: one bad
    // element is a violation)
    val arr = try_variant_get(v, "$", "array<variant>")
    def anyBad(badOne: Column => Column): Column =
      when(arr.isNotNull, coalesce(exists(arr, badOne), lit(false)))
        .otherwise(badOne(v))

    val valueChecks: Seq[(Column, String)] =
      if (skipAll) Nil
      else if (c.hasValues) {
        // each leg is type-strict: a string value can only match a string
        // entry, a number only a numeric entry, a boolean only a boolean
        // entry — mirroring Python's typed `value in values`
        def leg(vals: Seq[Any], extracted: Column) =
          if (vals.isEmpty) lit(false)
          else coalesce(extracted.isin(vals: _*), lit(false))
        def badOne(x: Column): Column = {
          val boolX = when(schema_of_variant(x) === "BOOLEAN",
            try_variant_get(x, "$", "boolean"))
          !(leg(c.values, strOf(x)) || leg(c.numValues, numOf(x)) ||
            leg(c.boolValues, boolX))
        }
        Seq((present && typeFine && anyBad(badOne),
          s"${c.key}: value not in enumeration"))
      } else {
        val patternCheck = c.pattern
          .filter(_ => c.typ.exists(t => t == "text" || t == "text[]"))
          .map { p =>
            (present && typeFine && anyBad(x =>
              !coalesce(strOf(x).rlike("^(?:" + p + ")"), lit(false))),
              s"${c.key}: value does not match pattern $p")
          }.toSeq
        val minCheck = c.min.map { m =>
          (present && typeFine && anyBad(x =>
            coalesce(numOf(x) < m, strOf(x) < m.toString, lit(false))),
            s"${c.key}: value below min $m")
        }.toSeq
        val maxCheck = c.max.map { m =>
          (present && typeFine && anyBad(x =>
            coalesce(numOf(x) > m, strOf(x) > m.toString, lit(false))),
            s"${c.key}: value above max $m")
        }.toSeq
        patternCheck ++ minCheck ++ maxCheck
      }
    fold(requiredCheck ++ typeCheck ++ valueChecks)
  }

  /** Parse a dataset's stored `file_metadata_requirements` JSON —
    * `{key: {required, type, values, min, max, pattern}}`, the shape of
    * `DBDataset.FileMetaRequirements` (dbobjects2.py:1577-1597) — into
    * [[Constraint]]s. Uses Jackson (already on Spark's classpath).
    * `keyPrefix` qualifies parameter names with their category path. */
  def parseRequirements(json: String, keyPrefix: String = ""): Seq[Constraint] = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import scala.jdk.CollectionConverters._
    val node = new ObjectMapper().readTree(json)
    require(node != null && node.isObject, s"requirements must be a JSON object: $json")
    node.properties().asScala.toSeq.map { e =>
      val key = keyPrefix + e.getKey
      val c = e.getValue
      def numOpt(f: String) = Option(c.get(f)).filter(_.isNumber).map(_.asDouble())
      def strOpt(f: String) = Option(c.get(f)).filter(_.isTextual).map(_.asText())
      val entries = Option(c.get("values")).filter(_.isArray)
        .map(_.elements().asScala.toSeq).getOrElse(Nil)
      Constraint(
        key = key,
        typ = strOpt("type"),
        min = numOpt("min"),
        max = numOpt("max"),
        values = entries.filter(_.isTextual).map(_.asText()),
        numValues = entries.filter(_.isNumber).map(_.asDouble()),
        boolValues = entries.filter(_.isBoolean).map(_.asBoolean()),
        pattern = strOpt("pattern"),
        required = Option(c.get("required")).exists(_.asBoolean(false)))
    }
  }

  /** per row of `rows`, the array of its violations of `constraints`, in
    * constraint order (empty when the row is valid) */
  def constraintErrors(rows: DataFrame, constraints: Seq[Constraint]): Column = {
    val meta = metaCol(rows)
    if (constraints.isEmpty) array().cast("array<string>")
    else filter(array(constraints.map(c => violation(meta, c)): _*), _.isNotNull)
  }

  /** validate rows carrying a `metadata_json` (or Variant `metadata`)
    * column; returns (fid, error) rows — empty means all valid */
  def validate(rows: DataFrame, constraints: Seq[Constraint]): DataFrame = {
    if (constraints.isEmpty)
      return rows.sparkSession.emptyDataFrame
        .withColumn("fid", lit("")).withColumn("error", lit("")).limit(0)
    rows.select(col("fid"), explode(constraintErrors(rows, constraints)).as("error"))
  }

  /** Category-closure validation — the server-side flow used by declare /
    * update (`webserver/data_handler.py:603-627`, bulk variant
    * `db/param_category.py:171-208`): a parameter `a.b.c` belongs to
    * category `a.b`; every key must carry a category (contain a dot); a
    * RESTRICTED category rejects parameters outside its declared
    * definitions; a key whose immediate category does not exist walks up
    * to the nearest EXISTING ancestor category and is rejected if that
    * ancestor is restricted. Declared parameters additionally validate
    * against their definition's constraints (validate_parameter,
    * param_category.py:163-168).
    *
    * Categories are dimension-sized (a config table), so the closure
    * compiles to a literal when-chain over each row's keys — fully
    * distributed, no driver loop over rows. Returns (fid, error) rows:
    * every row's key errors, then every row's constraint errors. */
  def categoryViolations(rows: DataFrame, categories: Seq[Category]): DataFrame = {
    val keyErrs = rows.select(col("fid"), explode(keyErrors(rows, categories)).as("error"))
    val constraintErrs = validate(rows, categories.flatMap(_.constraints))
    keyErrs.unionByName(constraintErrs)
  }

  /** per row of `rows`, the array of `"<key>: <error>"` for each metadata
    * key the category closure rejects, in key order (empty when none) —
    * the key half of [[categoryViolations]], as one projection */
  def keyErrors(rows: DataFrame, categories: Seq[Category]): Column = {
    def verdict(k: Column): Column = {
      // category path = everything before the last dot ("" when dot-less)
      val cp = regexp_extract(k, "^(.*)\\.[^.]*$", 1)
      // longest path first = nearest category wins the prefix walk
      val sorted = categories.sortBy(-_.path.length)
      val catVerdict = sorted.foldRight(lit(null).cast("string")) { (c, rest) =>
        val exactErr: Column =
          if (!c.restricted) lit(null).cast("string")
          else {
            val allowed = c.constraints.map(_.key)
            val outside =
              if (allowed.isEmpty) lit(true) else !k.isin(allowed: _*)
            when(outside,
              lit(s"parameter not allowed in restricted category ${c.path}"))
          }
        val ancestorErr: Column =
          if (c.restricted) lit(s"category ${c.path} is restricted")
          else lit(null).cast("string")
        when(cp === c.path, exactErr)
          .when(cp.startsWith(c.path + "."), ancestorErr)
          .otherwise(rest)
      }
      when(cp === "", lit("metadata parameter without a category"))
        .otherwise(catVerdict)
    }
    val keys = map_keys(try_variant_get(metaCol(rows), "$", "map<string,variant>"))
    coalesce(
      filter(transform(keys, k => concat(k, lit(": "), verdict(k))), _.isNotNull),
      array().cast("array<string>"))
  }

  private def metaCol(rows: DataFrame): Column =
    if (rows.columns.contains("metadata")) col("metadata")
    else parse_json(col("metadata_json"))
}
