package graft.queries

import graft.{CatalogEntry, Tables}
import graft.sources.{CsvSource, JsonSource, ParquetSource}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Util._

/** Category A — scans, sources, sinks (SURVEY.md §2.1.A).
  *
  * Scale notes: projection + filter must reach the parquet scan
  * (PushedFilters / ReadSchema — asserted in PlanShapeSpec). At 100 TB that
  * is the difference between reading 2 columns of a few row groups and
  * reading everything.
  */
object ScanQueries {

  private val scanProject = CatalogEntry.ansi(
    "src_scan_project",
    // ORDER BY is total over the OUTPUT columns (r20): the synthetic
    // lineitem fixture holds duplicate (l_orderkey, l_linenumber) pairs,
    // so the previous two-key sort left tie order to the engines' scan
    // order — stable only while the single-file scan ran as ONE
    // partition. l_quantity pins every remaining tie between non-identical
    // rows; fully identical rows are order-irrelevant to the value
    // compare. Same rows, same values, both engines re-agree (oracle
    // re-PASS at sf0.001/sf0.01 in the same commit).
    """SELECT l_orderkey, l_linenumber, l_quantity
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin) { (spark, sfDir) =>
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") < lit("1996-01-01 00:00:00").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
  }

  /** Explicit-schema read + cast/rename — the COPY column-mapping analog. */
  private val schemaEnforce = CatalogEntry.ansi(
    "src_schema_enforce",
    """SELECT event_id AS id, CAST(user_id AS INTEGER) AS uid,
      |       event_type AS etype, CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS val_dec
      |FROM events ORDER BY id""".stripMargin) { (spark, sfDir) =>
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampNTZType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    spark.read.schema(schema).parquet(s"$sfDir/events.parquet")
      .select(
        col("event_id").as("id"),
        col("user_id").cast("int").as("uid"),
        col("event_type").as("etype"),
        decOut(dec(col("value"))).as("val_dec"))
      .orderBy(col("id"))
  }

  /** JSON-in-string extraction (COPY FORMAT JSON / json_extract_path_text). */
  private val jsonExtract = CatalogEntry.dialect(
    "src_json_extract",
    duckdb = """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
               |FROM events ORDER BY event_id""".stripMargin,
    spark = """SELECT event_id, CAST(get_json_object(props, '$.k') AS INT) AS k_val
              |FROM events ORDER BY event_id""".stripMargin) { (spark, sfDir) =>
    Tables.events(spark, sfDir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"))
      .orderBy(col("event_id"))
  }

  /** Semi-structured JSON ARRAY navigation — the Redshift SUPER + PartiQL
    * unnest analog (r9 verdict missing #1): arrays of objects inside a
    * string column become rows. The fixture's `events.props` is single-key
    * scalar JSON, so the array column is manufactured deterministically
    * from event_id (variable 1-3 elements per row — variable length is the
    * point: a fixed-width fake would never exercise real unnesting).
    * Spark side: `from_json(ArrayType(Struct))` + `explode` — the lateral
    * flatten stays partition-local (no shuffle until the final orderBy,
    * which is presentation-only), so the plan is linear at any scale.
    * Oracle: DuckDB `json_transform` + `unnest` over the same string. */
  private val jsonArrayUnnest = CatalogEntry.dialect(
    "src_json_array",
    duckdb = """WITH j AS (
               |  SELECT event_id,
               |         '[{"sku":' || (event_id * 3) % 100 || ',"qty":' || event_id % 5 + 1 || '}' ||
               |         CASE WHEN event_id % 3 >= 1 THEN ',{"sku":' || (event_id * 3 + 1) % 100 || ',"qty":' || (event_id + 1) % 5 + 1 || '}' ELSE '' END ||
               |         CASE WHEN event_id % 3 >= 2 THEN ',{"sku":' || (event_id * 3 + 2) % 100 || ',"qty":' || (event_id + 2) % 5 + 1 || '}' ELSE '' END ||
               |         ']' AS arr
               |  FROM events
               |), u AS (
               |  SELECT event_id,
               |         unnest(json_transform(arr, '[{"sku":"BIGINT","qty":"BIGINT"}]')) AS s
               |  FROM j
               |)
               |SELECT event_id, s.sku AS sku, s.qty AS qty
               |FROM u ORDER BY event_id, sku""".stripMargin,
    spark = """WITH j AS (
              |  SELECT event_id,
              |         '[{"sku":' || CAST((event_id * 3) % 100 AS STRING) || ',"qty":' || CAST(event_id % 5 + 1 AS STRING) || '}' ||
              |         CASE WHEN event_id % 3 >= 1 THEN ',{"sku":' || CAST((event_id * 3 + 1) % 100 AS STRING) || ',"qty":' || CAST((event_id + 1) % 5 + 1 AS STRING) || '}' ELSE '' END ||
              |         CASE WHEN event_id % 3 >= 2 THEN ',{"sku":' || CAST((event_id * 3 + 2) % 100 AS STRING) || ',"qty":' || CAST((event_id + 2) % 5 + 1 AS STRING) || '}' ELSE '' END ||
              |         ']' AS arr
              |  FROM events
              |)
              |SELECT event_id, s.sku AS sku, s.qty AS qty
              |FROM j LATERAL VIEW explode(from_json(arr, 'array<struct<sku:bigint,qty:bigint>>')) t AS s
              |ORDER BY event_id, sku""".stripMargin) { (spark, sfDir) =>
    def elem(i: Int) = concat(
      lit("{\"sku\":"), ((col("event_id") * 3 + i) % 100).cast("string"),
      lit(",\"qty\":"), ((col("event_id") + i) % 5 + 1).cast("string"), lit("}"))
    val arr = concat(
      lit("["), elem(0),
      when(col("event_id") % 3 >= 1, concat(lit(","), elem(1))).otherwise(lit("")),
      when(col("event_id") % 3 >= 2, concat(lit(","), elem(2))).otherwise(lit("")),
      lit("]"))
    val schema = ArrayType(StructType(Seq(
      StructField("sku", LongType), StructField("qty", LongType))))
    Tables.events(spark, sfDir)
      .select(col("event_id"), from_json(arr, schema).as("a"))
      .select(col("event_id"), explode(col("a")).as("s"))
      .select(col("event_id"), col("s.sku").as("sku"), col("s.qty").as("qty"))
      .orderBy(col("event_id"), col("sku"))
  }

  /** VARIANT navigation — Spark 4's typed semi-structured value (the
    * Redshift SUPER analog done right): `parse_json` decodes the document
    * ONCE into the binary variant encoding, then every `variant_get`
    * navigates that encoded value with a typed path — unlike
    * `get_json_object` (src_json_extract), which re-parses the raw string
    * per extraction. At 100 TB that parse-once property is the story: a
    * wide extraction list costs one decode plus k cheap binary
    * navigations instead of k full JSON parses, and the variant column
    * shuffles/spills in its compact encoded form. The nested doc is
    * manufactured deterministically from event_id (fixture props is
    * single-key scalar JSON); value classes covered: nested object path,
    * boolean, decimal-typed number cast to double (exact quarter
    * fractions — binary-exact in both engines), array index, and a
    * missing path through `try_variant_get` (NULL, never error). Oracle:
    * DuckDB JSON extraction states the same navigation. VARIANT itself
    * never reaches the output (it is engine-internal, like DECIMAL —
    * §2.0 physical-type rules); every output is a plain scalar. */
  private val variantNav = CatalogEntry.dialect(
    "src_variant_nav",
    duckdb = """WITH j AS (
               |  SELECT event_id,
               |    '{"u":{"id":' || event_id % 97 || ',"vip":' ||
               |    CASE WHEN event_id % 3 = 0 THEN 'true' ELSE 'false' END ||
               |    '},"amt":' || event_id % 50 || '.25,"tags":["t' || event_id % 5 || '","x"]}' AS doc
               |  FROM events WHERE event_type = 'purchase'
               |)
               |SELECT event_id,
               |  CAST(json_extract_string(doc, '$.u.id') AS BIGINT) AS uid,
               |  CAST(json_extract_string(doc, '$.u.vip') AS BOOLEAN) AS vip,
               |  CAST(json_extract_string(doc, '$.amt') AS DOUBLE) AS amt,
               |  json_extract_string(doc, '$.tags[0]') AS tag0,
               |  CAST(json_extract_string(doc, '$.missing.path') AS INTEGER) AS miss
               |FROM j ORDER BY event_id""".stripMargin,
    spark = """WITH j AS (
              |  SELECT event_id,
              |    '{"u":{"id":' || CAST(event_id % 97 AS STRING) || ',"vip":' ||
              |    CASE WHEN event_id % 3 = 0 THEN 'true' ELSE 'false' END ||
              |    '},"amt":' || CAST(event_id % 50 AS STRING) || '.25,"tags":["t' || CAST(event_id % 5 AS STRING) || '","x"]}' AS doc
              |  FROM events WHERE event_type = 'purchase'
              |), v AS (
              |  SELECT event_id, parse_json(doc) AS var FROM j
              |)
              |SELECT event_id,
              |  variant_get(var, '$.u.id', 'bigint') AS uid,
              |  variant_get(var, '$.u.vip', 'boolean') AS vip,
              |  variant_get(var, '$.amt', 'double') AS amt,
              |  variant_get(var, '$.tags[0]', 'string') AS tag0,
              |  try_variant_get(var, '$.missing.path', 'int') AS miss
              |FROM v ORDER BY event_id""".stripMargin) { (spark, sfDir) =>
    val doc = concat(
      lit("{\"u\":{\"id\":"), (col("event_id") % 97).cast("string"),
      lit(",\"vip\":"),
      when(col("event_id") % 3 === 0, lit("true")).otherwise(lit("false")),
      lit("},\"amt\":"), (col("event_id") % 50).cast("string"),
      lit(".25,\"tags\":[\"t"), (col("event_id") % 5).cast("string"),
      lit("\",\"x\"]}"))
    Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), parse_json(doc).as("var"))
      .select(col("event_id"),
        expr("variant_get(var, '$.u.id', 'bigint')").as("uid"),
        expr("variant_get(var, '$.u.vip', 'boolean')").as("vip"),
        expr("variant_get(var, '$.amt', 'double')").as("amt"),
        expr("variant_get(var, '$.tags[0]', 'string')").as("tag0"),
        expr("try_variant_get(var, '$.missing.path', 'int')").as("miss"))
      .orderBy(col("event_id"))
  }

  /** XML extraction — the third decode family next to JSON string paths
    * (src_json_extract) and VARIANT (src_variant_nav): Spark's Hive-lineage
    * `xpath_*` battery plus Spark 4's native `from_xml`. Semantics under
    * test are XPath's, which differ from JSON paths in ways worth pinning:
    * a missing path yields '' from xpath_string (empty node-set → empty
    * string, NOT NULL — the opposite of get_json_object), attributes are
    * addressed with `@`, position predicates are 1-based (`t[1]`), and
    * XPath itself can aggregate (`sum(/o/tags/t/@w)` — computed inside the
    * path engine, not the SQL engine). `from_xml` is schema-projected
    * parsing (partial schemas legal — unlisted elements are simply not
    * materialized). The doc is manufactured deterministically from
    * event_id (same pattern as src_variant_nav; the fixtures ship no XML).
    * Oracle: DuckDB has no XML type, so it re-extracts EVERY output —
    * scalars, the tag list (regexp_extract_all over the markup) and the
    * w-attribute sum (list_sum over re-extracted attributes) — from the
    * same manufactured string, a genuine restatement of "recover the
    * injected values from markup" with no generator-formula shortcuts
    * (ADVICE r12: wsum/tags previously restated the generator arithmetic,
    * which could not catch a doc-construction bug). Scale: one
    * narrow projected scan, per-row parse, no shuffle until the sort; at
    * 100 TB the xpath battery re-parses per call like get_json_object, so
    * wide extraction lists belong on from_xml (parse once per schema) —
    * both appear here deliberately. */
  private val xmlExtract = CatalogEntry.dialect(
    "src_xml_extract",
    duckdb = """WITH j AS (
               |  SELECT event_id,
               |    '<o id="' || event_id % 89 || '"><amt>' || event_id % 40 ||
               |    '.75</amt><qty>' || event_id % 7 || '</qty><tags><t w="' ||
               |    event_id % 4 || '">t' || event_id % 3 ||
               |    '</t><t w="2">x</t></tags></o>' AS doc
               |  FROM events WHERE event_type = 'click' AND event_id % 5 = 0
               |)
               |SELECT event_id,
               |  CAST(regexp_extract(doc, 'id="([0-9]+)"', 1) AS INTEGER) AS uid,
               |  CAST(regexp_extract(doc, '<amt>([0-9.]+)</amt>', 1) AS DOUBLE) AS amt,
               |  CAST(regexp_extract(doc, '<qty>([0-9]+)</qty>', 1) AS INTEGER) AS qty,
               |  regexp_extract(doc, '<t[^>]*>([^<]*)</t>', 1) AS tag0,
               |  array_to_string(regexp_extract_all(doc, '<t[^>]*>([^<]*)</t>', 1), ',') AS tags,
               |  CAST(list_sum(list_transform(regexp_extract_all(doc, 'w="([0-9]+)"', 1),
               |       x -> CAST(x AS BIGINT))) AS BIGINT) AS wsum,
               |  '' AS miss
               |FROM j ORDER BY event_id""".stripMargin,
    spark = """WITH j AS (
              |  SELECT event_id,
              |    '<o id="' || CAST(event_id % 89 AS STRING) || '"><amt>' ||
              |    CAST(event_id % 40 AS STRING) || '.75</amt><qty>' ||
              |    CAST(event_id % 7 AS STRING) || '</qty><tags><t w="' ||
              |    CAST(event_id % 4 AS STRING) || '">t' ||
              |    CAST(event_id % 3 AS STRING) ||
              |    '</t><t w="2">x</t></tags></o>' AS doc
              |  FROM events WHERE event_type = 'click' AND event_id % 5 = 0
              |)
              |SELECT event_id,
              |  xpath_int(doc, '/o/@id') AS uid,
              |  xpath_double(doc, '/o/amt') AS amt,
              |  from_xml(doc, 'qty INT').qty AS qty,
              |  xpath_string(doc, '/o/tags/t[1]') AS tag0,
              |  array_join(xpath(doc, '/o/tags/t/text()'), ',') AS tags,
              |  xpath_long(doc, 'sum(/o/tags/t/@w)') AS wsum,
              |  xpath_string(doc, '/o/missing') AS miss
              |FROM j ORDER BY event_id""".stripMargin) { (spark, sfDir) =>
    val doc = concat(
      lit("<o id=\""), (col("event_id") % 89).cast("string"),
      lit("\"><amt>"), (col("event_id") % 40).cast("string"),
      lit(".75</amt><qty>"), (col("event_id") % 7).cast("string"),
      lit("</qty><tags><t w=\""), (col("event_id") % 4).cast("string"),
      lit("\">t"), (col("event_id") % 3).cast("string"),
      lit("</t><t w=\"2\">x</t></tags></o>"))
    Tables.events(spark, sfDir)
      .where(col("event_type") === "click" && col("event_id") % 5 === 0)
      .select(col("event_id"), doc.as("doc"))
      .select(col("event_id"),
        expr("xpath_int(doc, '/o/@id')").as("uid"),
        expr("xpath_double(doc, '/o/amt')").as("amt"),
        expr("from_xml(doc, 'qty INT').qty").as("qty"),
        expr("xpath_string(doc, '/o/tags/t[1]')").as("tag0"),
        array_join(expr("xpath(doc, '/o/tags/t/text()')"), ",").as("tags"),
        expr("xpath_long(doc, 'sum(/o/tags/t/@w)')").as("wsum"),
        expr("xpath_string(doc, '/o/missing')").as("miss"))
      .orderBy(col("event_id"))
  }

  /** Parse-once twin of [[xmlExtract]] (VERDICT r18 #4 — the battery-vs-
    * scale split made a routed catalog entry): identical output, ONE
    * `from_xml` parse per row against a full document schema instead of
    * seven independent xpath_* parses. The battery entry stays the
    * spec-scale pin for XPath's semantics (empty-node-set → '', @-attrs,
    * 1-based predicates, path-engine aggregation); THIS spelling is what a
    * 100-TB extraction job runs — wide extraction lists amortize the parse
    * across every projected field, the ~7× parse fan-out being the battery
    * entry's honest-by-API-design cost. `Catalog.scalePaths` routes the
    * battery here, so the 100× sweep number for the family is this plan's.
    * from_xml schema notes: attributes carry the default `_` prefix
    * (`_id`, `_w`); an element with both attributes and text exposes the
    * text as `_VALUE`; the missing-path column is pinned to '' by the
    * battery's xpath_string contract (nothing to parse — from_xml simply
    * has no such field). Same DuckDB oracle as the battery: the outputs
    * are identical by contract, and the oracle re-extracts every value
    * from the markup. */
  private val xmlExtractOnce = CatalogEntry.dialect(
    "src_xml_extract_once",
    duckdb = """WITH j AS (
               |  SELECT event_id,
               |    '<o id="' || event_id % 89 || '"><amt>' || event_id % 40 ||
               |    '.75</amt><qty>' || event_id % 7 || '</qty><tags><t w="' ||
               |    event_id % 4 || '">t' || event_id % 3 ||
               |    '</t><t w="2">x</t></tags></o>' AS doc
               |  FROM events WHERE event_type = 'click' AND event_id % 5 = 0
               |)
               |SELECT event_id,
               |  CAST(regexp_extract(doc, 'id="([0-9]+)"', 1) AS INTEGER) AS uid,
               |  CAST(regexp_extract(doc, '<amt>([0-9.]+)</amt>', 1) AS DOUBLE) AS amt,
               |  CAST(regexp_extract(doc, '<qty>([0-9]+)</qty>', 1) AS INTEGER) AS qty,
               |  regexp_extract(doc, '<t[^>]*>([^<]*)</t>', 1) AS tag0,
               |  array_to_string(regexp_extract_all(doc, '<t[^>]*>([^<]*)</t>', 1), ',') AS tags,
               |  CAST(list_sum(list_transform(regexp_extract_all(doc, 'w="([0-9]+)"', 1),
               |       x -> CAST(x AS BIGINT))) AS BIGINT) AS wsum,
               |  '' AS miss
               |FROM j ORDER BY event_id""".stripMargin,
    spark = """WITH j AS (
              |  SELECT event_id,
              |    '<o id="' || CAST(event_id % 89 AS STRING) || '"><amt>' ||
              |    CAST(event_id % 40 AS STRING) || '.75</amt><qty>' ||
              |    CAST(event_id % 7 AS STRING) || '</qty><tags><t w="' ||
              |    CAST(event_id % 4 AS STRING) || '">t' ||
              |    CAST(event_id % 3 AS STRING) ||
              |    '</t><t w="2">x</t></tags></o>' AS doc
              |  FROM events WHERE event_type = 'click' AND event_id % 5 = 0
              |), p AS (
              |  SELECT event_id, from_xml(doc,
              |    '_id INT, amt DOUBLE, qty INT, tags STRUCT<t: ARRAY<STRUCT<_w: BIGINT, _VALUE: STRING>>>') AS x
              |  FROM j
              |)
              |SELECT event_id, x._id AS uid, x.amt AS amt, x.qty AS qty,
              |  x.tags.t[0]._VALUE AS tag0,
              |  array_join(transform(x.tags.t, e -> e._VALUE), ',') AS tags,
              |  aggregate(x.tags.t, CAST(0 AS BIGINT), (a, e) -> a + e._w) AS wsum,
              |  '' AS miss
              |FROM p ORDER BY event_id""".stripMargin) { (spark, sfDir) =>
    val doc = concat(
      lit("<o id=\""), (col("event_id") % 89).cast("string"),
      lit("\"><amt>"), (col("event_id") % 40).cast("string"),
      lit(".75</amt><qty>"), (col("event_id") % 7).cast("string"),
      lit("</qty><tags><t w=\""), (col("event_id") % 4).cast("string"),
      lit("\">t"), (col("event_id") % 3).cast("string"),
      lit("</t><t w=\"2\">x</t></tags></o>"))
    Tables.events(spark, sfDir)
      .where(col("event_type") === "click" && col("event_id") % 5 === 0)
      .select(col("event_id"), doc.as("doc"))
      .select(col("event_id"), expr(
        "from_xml(doc, '_id INT, amt DOUBLE, qty INT, " +
          "tags STRUCT<t: ARRAY<STRUCT<_w: BIGINT, _VALUE: STRING>>>')").as("x"))
      .select(col("event_id"),
        col("x._id").as("uid"),
        col("x.amt").as("amt"),
        col("x.qty").as("qty"),
        expr("x.tags.t[0]._VALUE").as("tag0"),
        array_join(expr("transform(x.tags.t, e -> e._VALUE)"), ",").as("tags"),
        expr("aggregate(x.tags.t, CAST(0 AS BIGINT), (a, e) -> a + e._w)").as("wsum"),
        lit("").as("miss"))
      .orderBy(col("event_id"))
  }

  /** CSV write→read fidelity (COPY-in / UNLOAD-out): result must equal source. */
  private val csvRoundtrip = CatalogEntry.ansi(
    "src_csv_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") {
    (spark, sfDir) =>
      val tmp = scratchDir("csv_roundtrip", sfDir)
      Tables.nation(spark, sfDir)
        .write.mode("overwrite").option("header", "true").csv(tmp)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      CsvSource(tmp, schema).load(spark).orderBy(col("n_nationkey"))
  }

  /** SPLIT_PART battery — the Redshift delimited-field extractor the str_*
    * family hadn't exercised: positive index, negative (from-end) index,
    * and the out-of-range → empty-string contract, over the '#'-delimited
    * name and a manufactured '|'-delimited field. Identical 1-based semantics in Spark
    * (3.3+) and DuckDB — probed before declaring. Pure projection,
    * codegen'd, partition-local. */
  private val splitPart = CatalogEntry.ansi(
    "str_split_part",
    """SELECT c_custkey,
      |       split_part(c_name, '#', 1) AS name_prefix,
      |       split_part(c_name, '#', 2) AS name_id,
      |       split_part(c_name, '#', -1) AS name_last,
      |       split_part(c_name, '#', 5) AS oob_empty,
      |       split_part(concat(c_mktsegment, '|', CAST(c_custkey AS STRING), '|x'), '|', 2) AS mid_field
      |FROM customer ORDER BY c_custkey""".stripMargin) { (spark, sfDir) =>
    Tables.customer(spark, sfDir)
      .select(col("c_custkey"),
        expr("split_part(c_name, '#', 1)").as("name_prefix"),
        expr("split_part(c_name, '#', 2)").as("name_id"),
        expr("split_part(c_name, '#', -1)").as("name_last"),
        expr("split_part(c_name, '#', 5)").as("oob_empty"),
        expr("split_part(concat(c_mktsegment, '|', CAST(c_custkey AS STRING), '|x'), '|', 2)")
          .as("mid_field"))
      .orderBy(col("c_custkey"))
  }

  /** Gzip-compressed CSV COPY leg — warehouses ship compressed text
    * (Redshift's `COPY … GZIP` / `UNLOAD … GZIP`), and the codec rides the
    * same splittable-read caveat everywhere: a .csv.gz file is ONE read
    * task (gzip streams don't split), so at scale you shard the unload into
    * many files and parallelism comes from file count, not byte ranges —
    * exactly what the directory write below produces. Identity oracle from
    * the source table; doubles survive the text round-trip exactly
    * (shortest-representation print, exact re-parse on both engines). */
  private val csvGzip = CatalogEntry.ansi(
    "src_csv_gzip",
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |ORDER BY c_custkey""".stripMargin) { (spark, sfDir) =>
    val tmp = scratchDir("csv_gzip", sfDir)
    Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .write.mode("overwrite")
      .option("header", "true").option("compression", "gzip").csv(tmp)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_acctbal", DoubleType)))
    spark.read.schema(schema).option("header", "true").csv(tmp)
      .orderBy(col("c_custkey"))
  }

  /** Single-scan multi-sink fan-out — the warehouse ETL staple
    * `etl_quarantine_routing` only CLASSIFIES: one pass over the facts
    * writes the clean rows to the staged table AND the rule-violating rows
    * to the quarantine table (Redshift multi-table insert / the classic
    * good-file+bad-file COPY split). The routed scan is cached so both
    * sink writes consume ONE materialization of the source — at 100 TB the
    * fact table is read once, not once per destination (with the cache
    * swapped for an actual two-destination foreachBatch or a partitioned
    * staging write when memory is the constraint). The audit is computed
    * from the SINK READBACK, not the source — it proves what landed. */
  private val multiFanout = CatalogEntry.ansi(
    "sink_multi_fanout",
    """WITH r AS (
      |  SELECT CASE WHEN l_quantity > 45 OR l_discount > 0.08
      |              THEN 'quarantine' ELSE 'clean' END AS sink,
      |         l_extendedprice
      |  FROM lineitem
      |)
      |SELECT sink, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM r GROUP BY sink ORDER BY sink""".stripMargin) { (spark, sfDir) =>
    val tmp = scratchDir("multi_fanout", sfDir)
    val routed = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"),
        when(col("l_quantity") > 45 || col("l_discount") > 0.08, "quarantine")
          .otherwise("clean").as("sink"))
      .cache()
    routed.where(col("sink") === "clean")
      .write.mode("overwrite").parquet(s"$tmp/clean")
    routed.where(col("sink") === "quarantine")
      .write.mode("overwrite").parquet(s"$tmp/quarantine")
    ParquetSource(s"$tmp/clean").load(spark)
      .unionByName(ParquetSource(s"$tmp/quarantine").load(spark))
      .groupBy(col("sink"))
      .agg(count(lit(1)).cast("long").as("n"),
        decOut(sum(dec(col("l_extendedprice")))).as("revenue"))
      .orderBy(col("sink"))
  }

  /** Partitioned parquet sink + readback (UNLOAD PARTITION analog).
    * Partition-by-year is the 100-TB layout move: year predicates become
    * directory pruning instead of data reads. */
  private val partitionedWrite = CatalogEntry.ansi(
    "sink_partitioned_write",
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, COUNT(*) AS n
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, sfDir) =>
    val tmp = scratchDir("partitioned_sink", sfDir)
    Tables.orders(spark, sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(tmp)
    ParquetSource(tmp).load(spark)
      .groupBy(col("o_year").cast("int").as("o_year"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_year"))
  }

  /** JDBC warehouse round-trip, executed for real against embedded Derby
    * (ships with the Spark distribution — the in-process stand-in for
    * Redshift/Postgres). Overwrite-stage `nation` into the database, then
    * read it back PARTITIONED: `partitionColumn` + bounds make Spark issue
    * `numPartitions` range queries in parallel — the only bulk-read shape
    * that scales over JDBC (a single connection serializes the transfer;
    * at warehouse scale you always fan out, sized so each range query
    * stays within the source's per-connection throughput). Identity
    * oracle; fan-out + append semantics are asserted in ScanSpec. */
  private val jdbcSurface = CatalogEntry.ansi(
    "src_jdbc_surface",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") {
    (spark, sfDir) =>
      val src = graft.sources.JdbcSource(
        url = "jdbc:derby:memory:graft_entry;create=true",
        dbtable = "graft_nation",
        user = "app", password = "app",
        driver = "org.apache.derby.jdbc.EmbeddedDriver",
        partitionColumn = Some("n_nationkey"),
        lowerBound = 0L, upperBound = 25L, numPartitions = 4)
      src.overwrite(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
      src.load(spark)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
  }

  /** JSON write→read fidelity — the JsonSource leg of the COPY surface.
    * Kept to integer/string columns: JSON has no timestamp type, so a
    * round-trip through it would re-parse strings (a different operator). */
  private val jsonRoundtrip = CatalogEntry.ansi(
    "src_json_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") {
    (spark, sfDir) =>
      val tmp = scratchDir("json_roundtrip", sfDir)
      Tables.nation(spark, sfDir)
        .write.mode("overwrite").json(tmp)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      JsonSource(tmp, schema).load(spark)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
  }

  /** Write-once staging (VERDICT r2 task 3 / r3 #1): the bucketed tables
    * are a LAYOUT, not part of the query — a warehouse writes its DISTKEY
    * tables once and joins them nightly. Re-staging on every invocation put
    * a ~15 s table rewrite inside the timed bench path.
    *
    * Keyed on sfDir ALONE, not (session, sfDir): sibling sessions
    * (`spark.newSession()`) share the external catalog and the files, so a
    * per-session key makes a sibling restage tables another session has
    * already resolved — its per-session relation cache then points at
    * part-files the rewrite deleted (FILE_NOT_EXIST; hit by
    * PerturbationSpec's sibling-session run). One staging per (JVM, sfDir)
    * is both the fastest and the only cache-coherent choice (which is why
    * the staged sets are JVM-scoped and not in [[graft.SessionMemo]]); the
    * staging session refreshes its own relation cache after a rewrite. */
  private val bucketedStaged = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def ensureBucketedTables(spark: org.apache.spark.sql.SparkSession,
                                   sfDir: String): Unit = {
    def tablesExist =
      spark.catalog.tableExists("graft_orders_bkt") &&
        spark.catalog.tableExists("graft_customer_bkt")
    if (!(bucketedStaged.contains(sfDir) && tablesExist)) bucketedStaged.synchronized {
      if (!bucketedStaged.contains(sfDir) || !tablesExist) {
        val base = scratchDir("bucketed", sfDir)
        val onDisk = stagedOnDisk(spark, base, sfDir, "orders", "customer") {
          spark.sql("DROP TABLE IF EXISTS graft_orders_bkt")
          spark.sql("DROP TABLE IF EXISTS graft_customer_bkt")
          Tables.orders(spark, sfDir)
            .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
            .write.mode("overwrite")
            .option("path", s"$base/orders")
            .bucketBy(8, "o_custkey").sortBy("o_custkey")
            .saveAsTable("graft_orders_bkt")
          Tables.customer(spark, sfDir)
            .select(col("c_custkey"), col("c_mktsegment"))
            .write.mode("overwrite")
            .option("path", s"$base/customer")
            .bucketBy(8, "c_custkey").sortBy("c_custkey")
            .saveAsTable("graft_customer_bkt")
        }
        // valid files from an earlier JVM: re-register them with DDL only
        // instead of re-paying the two table writes
        if (onDisk) {
          val ordersDDL = Tables.orders(spark, sfDir)
            .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
            .schema.toDDL
          val customerDDL = Tables.customer(spark, sfDir)
            .select(col("c_custkey"), col("c_mktsegment"))
            .schema.toDDL
          spark.sql(
            s"""CREATE TABLE IF NOT EXISTS graft_orders_bkt ($ordersDDL)
               |USING PARQUET
               |CLUSTERED BY (o_custkey) SORTED BY (o_custkey) INTO 8 BUCKETS
               |LOCATION '$base/orders'""".stripMargin)
          spark.sql(
            s"""CREATE TABLE IF NOT EXISTS graft_customer_bkt ($customerDDL)
               |USING PARQUET
               |CLUSTERED BY (c_custkey) SORTED BY (c_custkey) INTO 8 BUCKETS
               |LOCATION '$base/customer'""".stripMargin)
        }
        spark.catalog.refreshTable("graft_orders_bkt")
        spark.catalog.refreshTable("graft_customer_bkt")
        // staging is per sfDir: a different sfDir in the same JVM restages
        bucketedStaged.clear()
        bucketedStaged.add(sfDir)
      }
    }
  }

  /** Bucketed co-located join — the Redshift DISTKEY analog. Both sides
    * are written bucketed by the join key into the same bucket count, so
    * the sort-merge join runs with NO shuffle exchange on either side
    * (asserted in PlanShapeSpec): at 100 TB this turns the nightly
    * fact-dim reconciliation from a full two-sided shuffle into a local
    * merge per bucket. The aggregation after the join still shuffles —
    * that is the cheap |groups|-sized exchange. */
  private val bucketedJoin = CatalogEntry.ansi(
    "sink_bucketed_join",
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (spark, sfDir) =>
    ensureBucketedTables(spark, sfDir)
    spark.table("graft_orders_bkt").hint("merge")
      .join(spark.table("graft_customer_bkt").hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        decOut(sum(dec(col("o_totalprice")))).as("total"))
      .orderBy(col("c_mktsegment"))
  }

  /** Error-tolerant staged load (Redshift COPY MAXERROR analog): a CSV
    * batch containing malformed rows loads in PERMISSIVE mode with a
    * corrupt-record column; bad rows are quarantined (nulls + raw line)
    * instead of failing the load, and the clean rows flow on. The oracle
    * checks the clean output; ScanSpec asserts the quarantine count. */
  private val csvBadRecords = CatalogEntry.ansi(
    "src_csv_badrecords",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") {
    (spark, sfDir) =>
      val tmp = scratchDir("csv_badrecords", sfDir)
      Tables.nation(spark, sfDir)
        .write.mode("overwrite").option("header", "false").csv(tmp)
      // inject a malformed part-file alongside the clean ones
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "part-corrupt.csv"),
        "notanint,BROKENLAND\nalso,not,valid,row,extra\n".getBytes("UTF-8"))
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType),
        StructField("_corrupt", StringType)))
      // filter on parse success via the key column, NOT the corrupt
      // column: a plan whose scan would reference only _corrupt is
      // rejected by Spark (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and
      // .count()-style pruning would reduce a _corrupt-filter plan to
      // exactly that
      spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(tmp)
        .where(col("n_nationkey").isNotNull)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
  }

  /** ORC write→read fidelity — the third columnar staging format (ORC is
    * Spark-native; same vectorized reader + pushdown machinery as
    * parquet). Identity oracle, like the CSV/JSON roundtrips. */
  private val orcRoundtrip = CatalogEntry.ansi(
    "src_orc_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") {
    (spark, sfDir) =>
      val tmp = scratchDir("orc_roundtrip", sfDir)
      Tables.nation(spark, sfDir).write.mode("overwrite").orc(tmp)
      spark.read.orc(tmp)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
  }

  /** Morton (Z-order) interleave of two keys' low 16 bits — the
    * multi-column locality key. Bit b of x lands at position 2b, bit b of
    * y at 2b+1; disjoint bit positions make `+` a bitwise OR, and the 32
    * shift/mask terms stay inside whole-stage codegen. Public so the
    * skipping proof in PlanShapeSpec lays out files with the identical
    * key. */
  def morton16(x: org.apache.spark.sql.Column,
               y: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val xm = pmod(x.cast("long"), lit(65536L))
    val ym = pmod(y.cast("long"), lit(65536L))
    (0 until 16).map { b =>
      shiftright(xm, b).bitwiseAND(1) * lit(1L << (2 * b)) +
        shiftright(ym, b).bitwiseAND(1) * lit(1L << (2 * b + 1))
    }.reduce(_ + _)
  }

  /** Rank-based Z-key (the Delta/iceberg Z-order recipe): interleave the
    * 16-QUANTILE-TILE indices of both columns, not the raw values — raw
    * interleaving wastes curve resolution when the two ranges differ
    * (measured here: raw morton LOST to a linear sort until ~100 files).
    * Tile boundaries come from `approxQuantile` (a sketch pass, bounded
    * driver state) rather than a global ntile window — the layout stage
    * never needs a global sort, which is what makes it 100-TB-writable. */
  def withZKey(df: org.apache.spark.sql.DataFrame, a: String, b: String): org.apache.spark.sql.DataFrame = {
    def tileExpr(c: String): org.apache.spark.sql.Column = {
      val bounds = df.stat.approxQuantile(c, (1 to 15).map(_ / 16.0).toArray, 0.001)
      bounds.foldLeft(lit(0))((acc, bd) => acc + when(col(c) >= bd, 1).otherwise(0))
    }
    df.withColumn("zkey", morton16(tileExpr(a), tileExpr(b)))
  }

  /** Z-order layout sink (SURVEY §8.1.5): stage lineitem sorted by the
    * rank-based Morton interleave of (l_partkey, l_suppkey), then answer
    * a 2-D box query from the layout. Range-partitioning + sorting on the
    * interleaved key gives every file/row-group a tight min/max box on
    * BOTH columns, so parquet row-group stats prune a 2-D predicate —
    * a single-column sort can only prune on its leading column. The
    * pruning itself is proven by metrics in PlanShapeSpec (z-layout scan
    * emits fewer rows than a linear-sort layout for the same box); the
    * oracle here pins the SEMANTICS (layout is plan, not meaning).
    * Write-once per (JVM, sfDir) behind the same marker pattern as the
    * bucketed tables — the staging write is layout preparation, not part
    * of the query. */
  private val zorderStaged = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def ensureZorderLayout(spark: org.apache.spark.sql.SparkSession,
                                 sfDir: String): String = {
    val base = scratchDir("zorder_sink", sfDir)
    if (!zorderStaged.contains(sfDir)) zorderStaged.synchronized {
      if (!zorderStaged.contains(sfDir)) {
        stagedOnDisk(spark, base, sfDir, "data") {
          withZKey(
            Tables.lineitem(spark, sfDir)
              .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
                col("l_quantity")),
            "l_partkey", "l_suppkey")
            .repartitionByRange(32, col("zkey"))
            .sortWithinPartitions(col("zkey"))
            .drop("zkey")
            .write.mode("overwrite").parquet(s"$base/data")
        }
        zorderStaged.clear()
        zorderStaged.add(sfDir)
      }
    }
    s"$base/data"
  }

  private val zorderWrite = CatalogEntry.ansi(
    "sink_zorder_write",
    """SELECT COUNT(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
      |FROM lineitem
      |WHERE l_partkey BETWEEN 50 AND 99 AND l_suppkey BETWEEN 2 AND 4""".stripMargin) {
    (spark, sfDir) =>
      val path = ensureZorderLayout(spark, sfDir)
      spark.read.parquet(path)
        .where(col("l_partkey").between(50, 99) && col("l_suppkey").between(2, 4))
        .agg(count(lit(1)).as("n"),
          decOut(sum(dec(col("l_quantity")))).as("total_qty"))
  }

  /** Pre-stage the write-once layouts (bucketed tables, z-order sink) so a
    * fresh JVM's FIRST timed invocation doesn't pay layout preparation —
    * the same posture as Bench's table-cache warm: the benchmark measures
    * the operator (the exchange-free SMJ, the pruned box scan), and the
    * layout is input preparation a warehouse does once at load time. */
  def warmStaging(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    ensureBucketedTables(spark, sfDir)
    ensureZorderLayout(spark, sfDir)
  }

  /** Line-oriented text write→read fidelity — the corpus-dump leg of the
    * COPY surface (one doc per line; the corpus text is tokenized
    * single-line by construction, so the line framing is lossless). The
    * text source has no ids or schema — the roundtrip identity is over the
    * sorted line multiset, which is exactly what a hash compare sees. */
  private val textRoundtrip = CatalogEntry.ansi(
    "src_text_roundtrip",
    "SELECT text AS line FROM documents ORDER BY line") { (spark, sfDir) =>
    val tmp = scratchDir("text_roundtrip", sfDir)
    Tables.documents(spark, sfDir).select(col("text"))
      .write.mode("overwrite").text(tmp)
    graft.sources.TextSource(tmp).load(spark)
      .select(col("value").as("line"))
      .orderBy(col("line"))
  }

  /** Schema evolution across parquet generations — an old extract without
    * `priority` and a new extract with it land in the same lake, and a
    * `mergeSchema` read reconciles them: the union schema comes back with
    * NULLs where the old files lack the column (exactly how a long-lived
    * 100-TB table accretes columns without rewriting history; per-file
    * footer schemas are merged at planning time, no data pass). The oracle
    * restates the merge from the source table: rows from the old
    * generation carry NULL priority. mergeSchema is opt-in because footer
    * merging costs a planning-time scan of file footers — exactly the
    * option surface this entry pins. */
  private val schemaMerge = CatalogEntry.ansi(
    "src_schema_merge",
    """SELECT o_orderkey, o_totalprice,
      |       CASE WHEN year(o_orderdate) >= 1998 THEN o_orderpriority END AS priority
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (spark, sfDir) =>
    val base = scratchDir("schema_merge", sfDir)
    val orders = Tables.orders(spark, sfDir)
    orders.where(year(col("o_orderdate")) < 1998)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$base/gen1")
    orders.where(year(col("o_orderdate")) >= 1998)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority").as("priority"))
      .write.mode("overwrite").parquet(s"$base/gen2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$base/gen1", s"$base/gen2")
      .select(col("o_orderkey"), col("o_totalprice"), col("priority"))
      .orderBy(col("o_orderkey"))
  }

  /** CSV quoting/escaping fidelity — round-trip strings containing the
    * THREE characters that break naive CSV handling: the delimiter itself,
    * the quote character, and an embedded newline (`src_csv_roundtrip`
    * proves clean values survive; this proves the writer quotes and the
    * reader unquotes the pathological ones — the classic silent-corruption
    * source in warehouse UNLOAD/COPY pipelines). The embedded newline
    * forces `multiLine=true` on the read: without it a record spans two
    * physical lines and the row count silently doubles — exactly the
    * failure this entry pins against. multiLine costs file-level (not
    * split-level) parallelism, the documented trade-off for data that
    * needs it. Oracle restates the messy value from the source table —
    * the CSV layer must be invisible. */
  private val csvQuoted = CatalogEntry.ansi(
    "src_csv_quoted",
    """SELECT c_custkey, c_name || ',"x' || chr(10) || 'y|z' AS messy
      |FROM customer ORDER BY c_custkey""".stripMargin) { (spark, sfDir) =>
    val tmp = scratchDir("csv_quoted", sfDir)
    Tables.customer(spark, sfDir)
      .select(col("c_custkey"), concat(col("c_name"), lit(",\"x\ny|z")).as("messy"))
      .write.mode("overwrite").option("header", "true").csv(tmp)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("messy", StringType)))
    spark.read.schema(schema)
      .option("header", "true").option("multiLine", "true").csv(tmp)
      .orderBy(col("c_custkey"))
  }

  /** Parquet BLOOM-FILTER sink — the point-lookup complement of
    * `sink_zorder_write`'s min/max box pruning: z-order/minmax skipping
    * needs the probe key CLUSTERED, but a high-cardinality key written in
    * arrival order has useless min/max ranges, and that is exactly where a
    * per-row-group bloom filter (`parquet.bloom.filter.enabled#col`) keeps
    * point probes from scanning every group. The entry writes the fact
    * slice with a bloom on l_orderkey, then probes an IN-list — the
    * filters reach the scan as PushedFilters (plan-tested) and the parquet
    * reader consults the bloom per row group. Identity sink ⇒ the oracle
    * restates the probe from the source table. */
  private val bloomWrite = CatalogEntry.ansi(
    "sink_bloom_write",
    """SELECT l_orderkey, COUNT(*) AS n_lines,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
      |FROM lineitem
      |WHERE l_orderkey IN (7, 4933, 29987, 575939, 1202629)
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (spark, sfDir) =>
    val path = scratchDir("bloom_sink", sfDir)
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#l_orderkey", "true")
      .option("parquet.bloom.filter.expected.ndv#l_orderkey", "2000000")
      .parquet(path)
    spark.read.parquet(path)
      .where(col("l_orderkey").isin(7L, 4933L, 29987L, 575939L, 1202629L))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"), decOut(sum(dec(col("l_quantity")))).as("qty"))
      .orderBy(col("l_orderkey"))
  }

  /** Avro COPY leg (round 13 — closes VERDICT r12 "What's missing #1").
    *
    * `/opt/spark/jars` carries no `spark-avro` DataSource connector, so
    * `spark.read.format("avro")` is unavailable — but the Apache Avro
    * container format itself IS present (avro + avro-mapred 1.12.1), so
    * this entry does honest Avro container-file IO through the public
    * `org.apache.avro.mapred` API instead of faking the leg:
    *   - WRITE: partition-parallel `saveAsHadoopFile` with
    *     `AvroOutputFormat` — every task writes an independent `.avro`
    *     container (schema in the header, block-compressed records, sync
    *     markers), exactly what a warehouse UNLOAD ships.
    *   - READ: `hadoopFile` with `AvroInputFormat` — containers are
    *     BLOCK-SPLITTABLE on their sync markers, so at 100 TB read
    *     parallelism comes from byte ranges like parquet/ORC, not from
    *     file count like gzip text (`src_csv_gzip`'s documented caveat).
    * Record→Row conversion happens inside the same narrow stage (the
    * Hadoop RDD reuses its Writable wrappers — nothing raw is cached or
    * shuffled). DOUBLE survives bit-exactly (Avro stores IEEE bits), the
    * date rides as ISO text, so the identity oracle restates the
    * projection from the source table. */
  private val avroRoundtrip = CatalogEntry.dialect(
    "src_avro_roundtrip",
    duckdb = """SELECT o_orderkey, o_orderstatus, o_totalprice,
               |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
               |FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey""".stripMargin,
    spark = """SELECT o_orderkey, o_orderstatus, o_totalprice,
              |       date_format(o_orderdate, 'yyyy-MM-dd') AS o_orderdate
              |FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey""".stripMargin) {
    (spark, sfDir) =>
      import org.apache.avro.Schema
      import org.apache.avro.generic.{GenericData, GenericRecord}
      import org.apache.avro.mapred.{AvroInputFormat, AvroJob, AvroOutputFormat, AvroWrapper}
      import org.apache.hadoop.io.NullWritable
      import org.apache.hadoop.mapred.JobConf
      import org.apache.spark.sql.Row
      val schemaJson =
        """{"type":"record","name":"OrderExport","fields":[
          |{"name":"o_orderkey","type":"long"},
          |{"name":"o_orderstatus","type":"string"},
          |{"name":"o_totalprice","type":"double"},
          |{"name":"o_orderdate","type":"string"}]}""".stripMargin
      val proj = Tables.orders(spark, sfDir)
        .where(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      val out = scratchDir("avro_roundtrip", sfDir)
      val hconf = spark.sparkContext.hadoopConfiguration
      val outPath = new org.apache.hadoop.fs.Path(out)
      val fs = outPath.getFileSystem(hconf)
      if (fs.exists(outPath)) fs.delete(outPath, true)
      val jc = new JobConf(hconf)
      AvroJob.setOutputSchema(jc, new Schema.Parser().parse(schemaJson))
      proj.rdd.mapPartitions { it =>
        val sch = new Schema.Parser().parse(schemaJson)
        it.map { r =>
          val rec = new GenericData.Record(sch)
          rec.put("o_orderkey", r.getLong(0))
          rec.put("o_orderstatus", r.getString(1))
          rec.put("o_totalprice", r.getDouble(2))
          rec.put("o_orderdate", r.getString(3))
          (new AvroWrapper[GenericRecord](rec), NullWritable.get())
        }
      }.saveAsHadoopFile(out, classOf[AvroWrapper[GenericRecord]],
        classOf[NullWritable], classOf[AvroOutputFormat[GenericRecord]], jc)
      val rows = spark.sparkContext.hadoopFile(out,
          classOf[AvroInputFormat[GenericRecord]],
          classOf[AvroWrapper[GenericRecord]], classOf[NullWritable])
        .map { case (w, _) =>
          val rec = w.datum()
          Row(rec.get("o_orderkey").asInstanceOf[Long],
            rec.get("o_orderstatus").toString,
            rec.get("o_totalprice").asInstanceOf[Double],
            rec.get("o_orderdate").toString)
        }
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", StringType)))
      spark.createDataFrame(rows, schema).orderBy(col("o_orderkey"))
  }

  def entries: Seq[CatalogEntry] = Seq(
    scanProject, schemaEnforce, jsonExtract, jsonArrayUnnest, variantNav,
    xmlExtract, xmlExtractOnce, csvRoundtrip,
    jsonRoundtrip, orcRoundtrip, csvBadRecords, partitionedWrite, bucketedJoin,
    jdbcSurface, zorderWrite, textRoundtrip, schemaMerge, csvQuoted, bloomWrite,
    csvGzip, multiFanout, splitPart, avroRoundtrip)
}
