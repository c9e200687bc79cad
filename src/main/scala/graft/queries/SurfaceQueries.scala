package graft.queries

import graft.functions.TextFns
import graft.streaming.StatusMachine
import graft.streaming.StatusMachine.StatusEvent
import graft.util.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Oracle coverage for surface items previously checked only by unit
  * tests: the ingest status state machine (ST5 — DuckDB replays the
  * fold with a recursive CTE), config-driven source selection (S7),
  * GeoJSON sink assembly (K6), and the coordinate-validity /
  * null-category veto filters (P2/P3).
  */
object SurfaceQueries {

  val all: Seq[Q] = Seq(

    // ST5/K7: the PENDING→PROCESSING→SYNCED|FAILED machine folded over
    // real event history per user via mapGroupsWithState (batch form —
    // the streaming twin shares the same update function). The oracle
    // replays the identical fold in SQL with a recursive CTE.
    Q("q65_status_machine",
      (s, dir) => {
        import s.implicits._
        val ev = EventQueries.events(s, dir)
          .select(col("user_id").cast(StringType).as("content_id"),
            when(col("event_type") === "signup", "start")
              .when(col("event_type") === "purchase", "ok")
              .when(col("event_type") === "error", "fail")
              .when(col("event_type") === "click", "retry")
              .otherwise("invalidate").as("event"),
            unix_micros(col("ts")).as("at"))
          .as[StatusEvent]
        StatusMachine.run(ev).toDF()
          .orderBy(col("content_id"))
      },
      Some("""WITH RECURSIVE ev AS (
             |  SELECT content_id, event, at,
             |    ROW_NUMBER() OVER (PARTITION BY content_id
             |      ORDER BY at, event) AS rn,
             |    COUNT(*) OVER (PARTITION BY content_id) AS cnt
             |  FROM (SELECT CAST(user_id AS VARCHAR) AS content_id,
             |          CASE event_type WHEN 'signup' THEN 'start'
             |            WHEN 'purchase' THEN 'ok' WHEN 'error' THEN 'fail'
             |            WHEN 'click' THEN 'retry'
             |            ELSE 'invalidate' END AS event,
             |          epoch_ns(ts) // 1000 AS at
             |        FROM events)),
             |walk AS (
             |  SELECT content_id, 0 AS rn, 'PENDING' AS status,
             |         CAST(0 AS BIGINT) AS updated_at, cnt
             |  FROM (SELECT DISTINCT content_id, cnt FROM ev)
             |  UNION ALL
             |  SELECT e.content_id, CAST(e.rn AS INT),
             |    CASE WHEN w.status = 'PENDING' AND e.event = 'start'
             |           THEN 'PROCESSING'
             |         WHEN w.status = 'PROCESSING' AND e.event = 'ok'
             |           THEN 'SYNCED'
             |         WHEN w.status = 'PROCESSING' AND e.event = 'fail'
             |           THEN 'FAILED'
             |         WHEN w.status = 'FAILED' AND e.event = 'retry'
             |           THEN 'PENDING'
             |         WHEN w.status = 'SYNCED' AND e.event = 'invalidate'
             |           THEN 'PENDING'
             |         ELSE w.status END,
             |    e.at, w.cnt
             |  FROM walk w JOIN ev e
             |    ON e.content_id = w.content_id AND e.rn = w.rn + 1)
             |SELECT content_id, status, updated_at
             |FROM walk WHERE rn = cnt ORDER BY content_id""".stripMargin)),

    // S7: config-driven source selection — a sources-config relation
    // decides which tables are ingested (reference PROVIDER_MAP +
    // is_active gating, run_ingest.py:11-15,55-60); inactive configs
    // contribute nothing.
    Q("q66_config_sources",
      (s, dir) => {
        val configs = Seq(
          ("customer_src", "customer", true),
          ("supplier_src", "supplier", true),
          ("part_src", "part", false))
        configs.filter(_._3).map { case (nm, tbl, _) =>
          Tables(s, dir, tbl)
            .agg(count(lit(1)).as("n_rows"))
            .select(lit(nm).as("source_name"), col("n_rows"))
        }.reduce(_ unionByName _).orderBy(col("source_name"))
      },
      Some("""SELECT * FROM (
             |  SELECT 'customer_src' AS source_name, COUNT(*) AS n_rows
             |  FROM customer
             |  UNION ALL
             |  SELECT 'supplier_src', COUNT(*) FROM supplier)
             |ORDER BY source_name""".stripMargin)),

    // K6: GeoJSON FeatureCollection assembly per nation over synthetic
    // customer points (reference cl_test1.py:359-424 writes the same
    // shape per client). Coordinates render at 6dp on both sides.
    Q("q67_geojson_sink",
      (s, dir) => {
        val k = col("c_custkey")
        val lat = (k % 17000L).cast(DoubleType) / lit(100d) - lit(85d)
        val lon = (k % 35000L).cast(DoubleType) / lit(100d) - lit(175d)
        val feat = concat(
          lit("{\"type\":\"Feature\",\"geometry\":{\"type\":\"Point\",\"coordinates\":["),
          format_string("%.6f", lon), lit(","), format_string("%.6f", lat),
          lit("]},\"properties\":{\"name\":\""), col("c_name"), lit("\"}}"))
        Tables(s, dir, "customer").filter(k <= 500)
          .join(Tables(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"), feat.as("feature"))
          .groupBy(col("n_name"))
          .agg(concat(lit("{\"type\":\"FeatureCollection\",\"features\":["),
            array_join(sort_array(collect_list(col("feature"))), ","),
            lit("]}")).as("geojson"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name,
             |  '{"type":"FeatureCollection","features":[' ||
             |  string_agg(feature, ',' ORDER BY feature) || ']}' AS geojson
             |FROM (
             |  SELECT n_name,
             |    '{"type":"Feature","geometry":{"type":"Point","coordinates":[' ||
             |    printf('%.6f', CAST(c_custkey % 35000 AS DOUBLE)
             |      / CAST(100 AS DOUBLE) - CAST(175 AS DOUBLE)) || ',' ||
             |    printf('%.6f', CAST(c_custkey % 17000 AS DOUBLE)
             |      / CAST(100 AS DOUBLE) - CAST(85 AS DOUBLE)) ||
             |    ']},"properties":{"name":"' || c_name || '"}}' AS feature
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  WHERE c_custkey <= 500)
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // P2/P3: coordinate-validity filter ("0" sentinel and out-of-range
    // coords dropped, wp_residence_provider.py:85-88) + null-category
    // veto (process_pois.py classification gate).
    Q("q68_validity_filters",
      (s, dir) => {
        val k = col("c_custkey")
        val lat = when(k % 7 === 0, lit(0d))
          .otherwise((k % 260L).cast(DoubleType) - lit(95d))
        val cat = when(k % 11 === 0, lit(null).cast(StringType))
          .otherwise(col("c_mktsegment"))
        Tables(s, dir, "customer")
          .select(k, lat.as("lat"), cat.as("category"))
          .filter(col("lat") =!= 0d &&
            col("lat").between(-90d, 90d) &&
            col("category").isNotNull)
          .orderBy(k)
      },
      Some("""SELECT * FROM (
             |  SELECT c_custkey,
             |    CASE WHEN c_custkey % 7 = 0 THEN CAST(0 AS DOUBLE)
             |      ELSE CAST(c_custkey % 260 AS DOUBLE) - CAST(95 AS DOUBLE)
             |    END AS lat,
             |    CASE WHEN c_custkey % 11 = 0 THEN NULL
             |      ELSE c_mktsegment END AS category
             |  FROM customer)
             |WHERE lat <> 0 AND lat BETWEEN -90 AND 90
             |  AND category IS NOT NULL
             |ORDER BY c_custkey""".stripMargin)),

    // Range (interval) join: fact rows binned into a small literal
    // tier relation on a BETWEEN condition. The right plan at any
    // scale is a broadcast nested-loop against the tiny range dim —
    // each fact row tests 3 intervals, no shuffle, no cross-join blowup.
    Q("q69_range_join",
      (s, dir) => {
        import s.implicits._
        val tiers = Seq(
          ("t1_small", 0d, 50000d),
          ("t2_mid", 50000d, 200000d),
          ("t3_large", 200000d, 1e9)).toDF("tier", "lo", "hi")
        Tables(s, dir, "orders")
          .join(broadcast(tiers),
            col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
          .groupBy(col("tier"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .orderBy(col("tier"))
      },
      Some("""SELECT tier, COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_price
             |FROM orders JOIN (VALUES
             |    ('t1_small', CAST(0 AS DOUBLE), CAST(50000 AS DOUBLE)),
             |    ('t2_mid', CAST(50000 AS DOUBLE), CAST(200000 AS DOUBLE)),
             |    ('t3_large', CAST(200000 AS DOUBLE), CAST(1000000000 AS DOUBLE)))
             |  t(tier, lo, hi)
             |  ON o_totalprice >= lo AND o_totalprice < hi
             |GROUP BY tier ORDER BY tier""".stripMargin)),

    // Document chunking for embedding/context windows: fixed-size
    // character windows with overlap, chunk ids in the reference's
    // 'doc_<id>_part_<n>' form (src/ETL_DOCS/processor.py:126). All
    // flat codegen'd exprs — sequence + explode + substr, no lambda.
    Q("q70_doc_chunking",
      (s, dir) => {
        val size = 500; val overlap = 100; val step = size - overlap
        graft.util.Tables(s, dir, "documents")
          .withColumn("_n", greatest(lit(1),
            ceil((length(col("text")) - lit(overlap)).cast(DoubleType) /
              lit(step)).cast(IntegerType)))
          .select(col("doc_id"),
            explode(sequence(lit(0), col("_n") - 1)).as("chunk_no"),
            col("text"))
          .select(col("doc_id"), col("chunk_no"),
            concat(lit("doc_"), col("doc_id"), lit("_part_"), col("chunk_no"))
              .as("chunk_id"),
            col("text").substr(col("chunk_no") * step + 1, lit(size)).as("chunk"))
          .orderBy(col("doc_id"), col("chunk_no"))
      },
      Some("""SELECT doc_id, CAST(i AS INT) AS chunk_no,
             |  'doc_' || CAST(doc_id AS VARCHAR) || '_part_' ||
             |    CAST(i AS VARCHAR) AS chunk_id,
             |  substr(text, CAST(i AS INT)*400 + 1, 500) AS chunk
             |FROM (SELECT d.doc_id, d.text,
             |        unnest(range(0, GREATEST(1,
             |          CAST(ceil((length(d.text) - 100) / 400.0) AS INT))))
             |          AS i
             |      FROM documents d)
             |ORDER BY doc_id, chunk_no""".stripMargin)),

    // Deterministic hash split: md5-bucket documents into
    // train/val/test (90/5/5) — the reproducible held-out-split
    // pattern every training-data pipeline needs (no RNG state; any
    // engine recomputes identical membership from the id alone).
    Q("q71_hash_split",
      (s, dir) => {
        val h = graft.operators.Dedup.md5Int32(col("doc_id").cast(StringType))
        val split = when(h % 100 < 90, "train")
          .when(h % 100 < 95, "val").otherwise("test")
        graft.util.Tables(s, dir, "documents")
          .groupBy(col("lang"), split.as("split"))
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).as("total_chars"))
          .orderBy(col("lang"), col("split"))
      },
      Some("""SELECT lang,
             |  CASE WHEN hv % 100 < 90 THEN 'train'
             |       WHEN hv % 100 < 95 THEN 'val'
             |       ELSE 'test' END AS split,
             |  COUNT(*) AS n,
             |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
             |FROM (SELECT lang, n_chars,
             |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             |          AS hv
             |      FROM documents)
             |GROUP BY lang, split ORDER BY lang, split""".stripMargin)),

    // Balanced per-class downsample: cap every language at N docs,
    // membership decided by md5-hash order (deterministic, no RNG) —
    // the class-balancing step for skewed training corpora. Runs
    // through the custom bounded-buffer top-k physical operator: a
    // window would SORT each whole language partition in one task,
    // and a language is corpus-scale at 100 TB; the operator keeps
    // only k rows per group per task instead.
    Q("q72_balanced_sample",
      (s, dir) => {
        val h = graft.operators.Dedup.md5Int32(col("doc_id").cast(StringType))
        graft.plans.TopKPhysical.topK(
          graft.util.Tables(s, dir, "documents").withColumn("_h", h),
          groupBy = Seq("lang"),
          orderBy = Seq(("_h", true), ("doc_id", true)), k = 50,
          rankName = "rn")
          .select(col("lang"), col("rn"), col("doc_id"))
          .orderBy(col("lang"), col("rn"))
      },
      Some("""SELECT lang, CAST(rn AS INT) AS rn, doc_id FROM (
             |  SELECT lang, doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
             |        doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 50 ORDER BY lang, rn""".stripMargin)),

    // S1 native path: layered scan of a RAW .osm.pbf (no GDAL, no
    // pre-conversion) through the repo's own wire-level decoder —
    // points (tagged nodes) ∪ multipolygons (type=multipolygon
    // relations) with a layer tag, the reference's exact two-layer
    // read (process_pois.py:361-378). No oracle: DuckDB cannot read
    // PBF, so the driver records the rows-only check; the decode
    // itself is pinned byte-exactly by OsmPbfSpec against an
    // independently hand-encoded fixture.
    Q("q96_pbf_scan",
      (s, _) => {
        // repo-root-resolved (not CWD-relative) so Bench/Verify work
        // from any directory; tags_json canonicalized by sorted key so
        // the string compares exactly against the expected parquet
        graft.sources.OsmPbf.layeredScan(s, graft.util.RepoRoot.fixture("tiny.osm.pbf"))
          .select(col("layer"), col("id"), col("lat"), col("lon"),
            to_json(map_from_entries(array_sort(map_entries(col("tags")))))
              .as("tags_json"))
          .orderBy(col("layer"), col("id"))
      },
      // DuckDB can't read PBF, but it CAN read the expected-rows parquet
      // the fixture generator emits alongside the .pbf (the generator is
      // an independent wire-level encoder, so this still cross-checks
      // the decoder, not itself)
      Some(s"SELECT layer, id, lat, lon, tags_json FROM '${graft.util.RepoRoot.fixture("tiny_osm_expected.parquet")}' ORDER BY layer, id")),

    // S1 sibling — native WARC scan (ISO 28500; the CommonCrawl
    // container, i.e. THE first read of a 100-TB web-text pipeline),
    // wire-level with no WARC library, exposed as DataSource V2
    // format "warc" (sources/Warc.scala). The fixture corpus is
    // hand-encoded by an INDEPENDENT Python wire encoder
    // (scripts/make_warc_fixture.py) and covers an uncompressed
    // multi-record file (per-record offset ranges distribute like row
    // groups) plus a per-record-gzip-member file (the CommonCrawl
    // layout; file = the unit of parallelism, exactly how production
    // consumes it). Payloads compare by md5 so the oracle stays a
    // plain SELECT over the generator's expected-rows parquet.
    Q("q182_warc_scan",
      (s, _) => {
        s.read.format("warc")
          .load(graft.util.RepoRoot.fixture("tiny_warc"))
          .select(col("src_file"), col("record_index"), col("warc_type"),
            col("record_id"), col("target_uri"), col("warc_date"),
            col("content_type"), col("content_length"),
            md5(col("payload")).as("payload_md5"))
          .orderBy(col("src_file"), col("record_index"))
      },
      Some(s"SELECT src_file, record_index, warc_type, record_id, target_uri, warc_date, content_type, content_length, payload_md5 FROM '${graft.util.RepoRoot.fixture("tiny_warc_expected.parquet")}' ORDER BY src_file, record_index")),

    // Between q182's WARC payload and q183's HTML extraction sits the
    // HTTP envelope: a response record's payload is status line +
    // headers + CRLF CRLF + body, and every WARC consumer splits it
    // before touching the body. Pure column ops (instr on the first
    // CRLF CRLF, regexp_extract for status/header fields, substring
    // for the body) — no UDF, map-shaped, oracle replays the same
    // split byte-for-byte. Each document is wrapped in a
    // deterministic envelope (status varies by key, a request-id
    // header, the q183 page as body) and the parse must recover
    // status code, content-type, body length, and the page title.
    Q("q186_http_parse",
      (s, dir) => {
        val d = Tables.wide(s, dir, "documents")
        val crlf = "\r\n"
        val status = when(col("doc_id") % 7 === 0, lit("404 Not Found"))
          .otherwise(lit("200 OK"))
        val page = concat(lit("<html><head><title>t"),
          col("doc_id").cast(StringType),
          lit("</title></head><body>"),
          substring(col("text"), 1, 40), lit("</body></html>"))
        val env = concat(lit("HTTP/1.1 "), status, lit(crlf),
          lit("Content-Type: text/html; charset=utf-8" + crlf),
          lit("X-Request-Id: r"), col("doc_id").cast(StringType),
          lit(crlf + crlf), page)
        d.select(col("doc_id"), env.as("env"))
          .withColumn("pos", instr(col("env"), crlf + crlf))
          .select(col("doc_id"),
            regexp_extract(col("env"), "^HTTP/1\\.[01] (\\d{3})", 1)
              .cast(LongType).as("status_code"),
            regexp_extract(substring(col("env"), lit(1), col("pos") - 1),
              "Content-Type: ([^\\r\\n]+)", 1).as("content_type"),
            regexp_extract(col("env"), "X-Request-Id: ([^\\r\\n]+)", 1)
              .as("request_id"),
            length(expr("substring(env, pos + 4)")).cast(LongType)
              .as("body_len"),
            regexp_extract(expr("substring(env, pos + 4)"),
              "<title>([^<]*)</title>", 1).as("title"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |    'HTTP/1.1 '
             |      || CASE WHEN doc_id % 7 = 0 THEN '404 Not Found'
             |              ELSE '200 OK' END
             |      || chr(13) || chr(10)
             |      || 'Content-Type: text/html; charset=utf-8'
             |      || chr(13) || chr(10)
             |      || 'X-Request-Id: r' || CAST(doc_id AS VARCHAR)
             |      || chr(13) || chr(10) || chr(13) || chr(10)
             |      || '<html><head><title>t' || CAST(doc_id AS VARCHAR)
             |      || '</title></head><body>' || substr(text, 1, 40)
             |      || '</body></html>' AS env
             |  FROM documents),
             |p AS (SELECT doc_id, env,
             |    instr(env, chr(13) || chr(10) || chr(13) || chr(10)) AS pos
             |  FROM d)
             |SELECT doc_id,
             |  CAST(regexp_extract(env, '^HTTP/1\.[01] (\d{3})', 1) AS BIGINT)
             |    AS status_code,
             |  regexp_extract(substr(env, 1, pos - 1),
             |    'Content-Type: ([^\r\n]+)', 1) AS content_type,
             |  regexp_extract(env, 'X-Request-Id: ([^\r\n]+)', 1) AS request_id,
             |  CAST(length(substr(env, pos + 4)) AS BIGINT) AS body_len,
             |  regexp_extract(substr(env, pos + 4),
             |    '<title>([^<]*)</title>', 1) AS title
             |FROM p ORDER BY doc_id""".stripMargin)),

    // URL canonicalization + frontier dedup — the crawl-side twin of
    // the content dedup family: a crawler must recognize
    // `HTTPS://Example.COM:443/p/1/?b=2&a=1#x` and
    // `https://example.com/p/1?a=1&b=2` as ONE frontier entry or it
    // fetches (and stores) every page many times. Steps (RFC 3986
    // §6 normalization): drop fragment, lowercase scheme+host, strip
    // the scheme's default port, strip trailing path slashes, sort
    // query parameters. All pure column regex/string ops — map-shaped,
    // the dedup groupBy on the canonical string is the only shuffle;
    // the oracle replays the identical normalization and the variants
    // MUST collapse 3→1 per document (n_variants is oracle-verified).
    // Extends F17's sanitize/extension ops to the full URL surface.
    Q("q187_url_canonicalize",
      (s, dir) => {
        val d = Tables.wide(s, dir, "documents")
        val id = col("doc_id").cast(StringType)
        val variants = d.select(col("doc_id"), explode(array(
          concat(lit("https://Example.COM:443/p/"), id, lit("/?b=2&a=1")),
          concat(lit("https://example.com/p/"), id, lit("?a=1&b=2#frag")),
          concat(lit("HTTPS://example.com:443/p/"), id, lit("/?b=2&a=1#x"))))
          .as("url"))
        val shPat = "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"
        variants
          .withColumn("nf", regexp_replace(col("url"), "#.*$", ""))
          .withColumn("sh", lower(regexp_extract(col("nf"), shPat, 1)))
          .withColumn("rest", expr(
            s"substr(nf, length(regexp_extract(nf, '$shPat', 1)) + 1)"))
          .withColumn("sh2",
            when(col("sh").startsWith("https://") && col("sh").endsWith(":443"),
              expr("substr(sh, 1, length(sh) - 4)"))
              .when(col("sh").startsWith("http://") && col("sh").endsWith(":80"),
                expr("substr(sh, 1, length(sh) - 3)"))
              .otherwise(col("sh")))
          .withColumn("path", regexp_replace(
            regexp_extract(col("rest"), "^([^?]*)", 1), "/+$", ""))
          .withColumn("q", regexp_extract(col("rest"), "\\?(.*)$", 1))
          .withColumn("canonical", concat(col("sh2"), col("path"),
            when(col("q") === "", lit("")).otherwise(concat(lit("?"),
              array_join(array_sort(split(col("q"), "&")), "&")))))
          .groupBy(col("canonical"))
          .agg(count(lit(1)).cast(LongType).as("n_variants"),
            countDistinct(col("doc_id")).cast(LongType).as("n_docs"))
          .orderBy(col("canonical"))
      },
      Some("""WITH v AS (
             |  SELECT doc_id, 'https://Example.COM:443/p/'
             |    || CAST(doc_id AS VARCHAR) || '/?b=2&a=1' AS url FROM documents
             |  UNION ALL SELECT doc_id, 'https://example.com/p/'
             |    || CAST(doc_id AS VARCHAR) || '?a=1&b=2#frag' FROM documents
             |  UNION ALL SELECT doc_id, 'HTTPS://example.com:443/p/'
             |    || CAST(doc_id AS VARCHAR) || '/?b=2&a=1#x' FROM documents),
             |n1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM v),
             |n2 AS (SELECT doc_id, nf,
             |    lower(regexp_extract(nf,
             |      '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) AS sh,
             |    substr(nf, length(regexp_extract(nf,
             |      '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) + 1) AS rest
             |  FROM n1),
             |n3 AS (SELECT doc_id,
             |    CASE WHEN sh LIKE 'https://%' AND sh LIKE '%:443'
             |           THEN substr(sh, 1, length(sh) - 4)
             |         WHEN sh LIKE 'http://%' AND sh LIKE '%:80'
             |           THEN substr(sh, 1, length(sh) - 3)
             |         ELSE sh END AS sh2,
             |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1),
             |      '/+$', '') AS path,
             |    regexp_extract(rest, '\?(.*)$', 1) AS q
             |  FROM n2),
             |c AS (SELECT doc_id, sh2 || path ||
             |    CASE WHEN q = '' THEN ''
             |         ELSE '?' || COALESCE(array_to_string(
             |           list_sort(string_split(q, '&')), '&'), '') END AS canonical
             |  FROM n3)
             |SELECT canonical, CAST(COUNT(*) AS BIGINT) AS n_variants,
             |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The step after q182's WARC read: HTML → visible text
    // (TextFns.htmlToText — script/style subtree drop, tag strip,
    // entity decode, whitespace collapse; the deterministic core of
    // the jusText/trafilatura position). Each document is wrapped in
    // a full page — title from its head tokens, its body
    // ENTITY-ESCAPED the way a real page escapes text, a script
    // containing a bare `<` (proving subtree drop precedes tag
    // stripping), boilerplate nav with double-encoded entities — and
    // extraction must ROUND-TRIP: recover title + body + nav text
    // exactly (the `ok` column is oracle-verified per row). The
    // oracle replays the same regex chain in DuckDB's RE2 ('gs'
    // flags), so the patterns are pinned to the subset both engines
    // execute identically. Pure codegen column chain — no UDF, no
    // shuffle; scales as a map over the corpus.
    Q("q183_html_extract",
      (s, dir) => {
        val d = Tables.wide(s, dir, "documents")
        val title = array_join(
          slice(graft.functions.TextFns.tokens(col("text")), 1, 3), " ")
        val escaped = replace(replace(replace(col("text"),
          lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
        val html = concat(
          lit("<html><head><title>"), title,
          lit("</title><script type=\"text/javascript\">var t = 1 < 2;" +
            "</script><style>.nav { color: #fff; }</style></head><body><p>"),
          escaped,
          lit("</p><div class=\"nav\">Home &amp; About&nbsp;</div></body></html>"))
        val expected = trim(regexp_replace(
          concat(title, lit(" "),
            array_join(graft.functions.TextFns.tokens(col("text")), " "),
            lit(" Home & About")),
          graft.functions.TextFns.WsClass + "+", " "))
        d.select(col("doc_id"), html.as("html"), expected.as("expected"))
          .select(col("doc_id"),
            length(col("html")).cast(LongType).as("n_chars_html"),
            graft.functions.TextFns.htmlToText(col("html")).as("extracted"),
            (graft.functions.TextFns.htmlToText(col("html")) === col("expected"))
              .as("ok"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, text,
             |    list_filter(string_split_regex(trim(text), '\s+'),
             |      x -> x <> '') AS toks
             |  FROM documents),
             |h AS (SELECT doc_id,
             |    '<html><head><title>'
             |      || COALESCE(array_to_string(list_slice(toks, 1, 3), ' '), '')
             |      || '</title><script type="text/javascript">var t = 1 < 2;'
             |      || '</script><style>.nav { color: #fff; }</style></head><body><p>'
             |      || replace(replace(replace(text, '&', '&amp;'),
             |           '<', '&lt;'), '>', '&gt;')
             |      || '</p><div class="nav">Home &amp; About&nbsp;</div></body></html>'
             |      AS html,
             |    trim(regexp_replace(
             |      COALESCE(array_to_string(list_slice(toks, 1, 3), ' '), '')
             |        || ' '
             |        || COALESCE(array_to_string(toks, ' '), '')
             |        || ' Home & About',
             |      '\s+', ' ', 'g')) AS expected
             |  FROM d),
             |x AS (SELECT doc_id, html, expected,
             |    trim(regexp_replace(
             |      replace(replace(replace(replace(replace(replace(
             |        regexp_replace(
             |          regexp_replace(
             |            regexp_replace(html, '<script[^>]*>.*?</script>', ' ', 'gs'),
             |            '<style[^>]*>.*?</style>', ' ', 'gs'),
             |          '<[^>]*>', ' ', 'g'),
             |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             |        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
             |      '\s+', ' ', 'g')) AS extracted
             |  FROM h)
             |SELECT doc_id, CAST(length(html) AS BIGINT) AS n_chars_html,
             |  extracted, extracted = expected AS ok
             |FROM x ORDER BY doc_id""".stripMargin)),

    // The WET pipeline (what CommonCrawl's WARC→WET conversion plus a
    // first-pass quality gate does), composed as ONE Catalyst plan:
    // HTTP envelope split (q186) → status/content gate → HTML→text
    // extraction (q183) → PII scrub (q191) → tokenize → stopword
    // evidence → keep verdict. Everything between the scan and the
    // final ORDER BY is one map-shaped projection chain with no
    // data-dependent shuffle — the plan's only exchanges are widen's
    // local-parallelism repartition (a bench-environment fix for the
    // single-file synthetic input; real file splits provide scan
    // parallelism) and the output sort. At 100 TB this whole stage
    // runs inside the scan tasks, and only the per-doc verdict row
    // crosses the wire. The ingestion-side complement of q184's
    // curation-side composition; oracle replays every stage in SQL.
    Q("q193_wet_extract",
      (s, dir) => {
        val d = Tables.wide(s, dir, "documents")
        val crlf = "\r\n"
        val status = when(col("doc_id") % 7 === 0, lit("404 Not Found"))
          .otherwise(lit("200 OK"))
        val title = array_join(
          slice(TextFns.tokens(col("text")), 1, 3), " ")
        val escaped = replace(replace(replace(col("text"),
          lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
        val page = concat(
          lit("<html><head><title>"), title,
          lit("</title><script type=\"text/javascript\">var x = 1 < 2;" +
            "</script><style>.m { color: #000; }</style></head><body><p>"),
          escaped, lit("</p></body></html>"))
        val env = concat(lit("HTTP/1.1 "), status, lit(crlf),
          lit("Content-Type: text/html; charset=utf-8" + crlf),
          lit(crlf), page)
        val sw = TextFns.langStopwords.head._2
        d.select(col("doc_id"), env.as("env"))
          .withColumn("pos", instr(col("env"), crlf + crlf))
          .withColumn("status_code",
            regexp_extract(col("env"), "^HTTP/1\\.[01] (\\d{3})", 1)
              .cast(LongType))
          .filter(col("status_code") === 200L)
          .withColumn("txt",
            TextFns.redactPii(TextFns.htmlToText(expr("substring(env, pos + 4)"))))
          .withColumn("t", TextFns.tokens(col("txt")))
          .withColumn("n_tok", size(col("t")).cast(LongType))
          .withColumn("stop_hits",
            size(filter(array_distinct(col("t")),
              t => t.isin(sw: _*))).cast(LongType))
          .select(col("doc_id"), col("n_tok"), col("stop_hits"),
            (col("n_tok") >= 3L && col("stop_hits") >= 1L).as("keep"),
            md5(col("txt")).as("text_md5"))
          .orderBy(col("doc_id"))
      },
      Some({
        val sw = TextFns.langStopwords.head._2.map("'" + _ + "'").mkString(",")
        s"""WITH d AS (SELECT doc_id, text,
           |    list_filter(string_split_regex(trim(text), '\\s+'),
           |      x -> x <> '') AS toks
           |  FROM documents),
           |h AS (SELECT doc_id,
           |    'HTTP/1.1 '
           |      || CASE WHEN doc_id % 7 = 0 THEN '404 Not Found'
           |              ELSE '200 OK' END
           |      || chr(13) || chr(10)
           |      || 'Content-Type: text/html; charset=utf-8'
           |      || chr(13) || chr(10) || chr(13) || chr(10)
           |      || '<html><head><title>'
           |      || COALESCE(array_to_string(list_slice(toks, 1, 3), ' '), '')
           |      || '</title><script type="text/javascript">var x = 1 < 2;'
           |      || '</script><style>.m { color: #000; }</style></head><body><p>'
           |      || replace(replace(replace(text, '&', '&amp;'),
           |           '<', '&lt;'), '>', '&gt;')
           |      || '</p></body></html>' AS env
           |  FROM d),
           |p AS (SELECT doc_id, env,
           |    CAST(regexp_extract(env, '^HTTP/1\\.[01] (\\d{3})', 1) AS BIGINT)
           |      AS status_code,
           |    instr(env, chr(13) || chr(10) || chr(13) || chr(10)) AS pos
           |  FROM h),
           |b AS (SELECT doc_id, substr(env, pos + 4) AS body
           |  FROM p WHERE status_code = 200),
           |x AS (SELECT doc_id,
           |    regexp_replace(regexp_replace(regexp_replace(
           |      trim(regexp_replace(
           |        replace(replace(replace(replace(replace(replace(
           |          regexp_replace(
           |            regexp_replace(
           |              regexp_replace(body, '<script[^>]*>.*?</script>', ' ', 'gs'),
           |              '<style[^>]*>.*?</style>', ' ', 'gs'),
           |            '<[^>]*>', ' ', 'g'),
           |          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           |          '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
           |        '\\s+', ' ', 'g')),
           |      '${TextFns.EmailRe}', '<EMAIL>', 'g'),
           |      '${TextFns.Ipv4Re}', '<IP>', 'g'),
           |      '${TextFns.PhoneRe}', '<PHONE>', 'g') AS txt
           |  FROM b),
           |t AS (SELECT doc_id, txt,
           |    list_filter(string_split_regex(trim(txt), '\\s+'),
           |      x -> x <> '') AS t
           |  FROM x)
           |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
           |  CAST(len(list_filter(list_distinct(t), x -> x IN ($sw)))
           |    AS BIGINT) AS stop_hits,
           |  len(t) >= 3 AND
           |    len(list_filter(list_distinct(t), x -> x IN ($sw))) >= 1 AS keep,
           |  md5(txt) AS text_md5
           |FROM t ORDER BY doc_id""".stripMargin
      })),

    // Schema-drift tolerant scan — the source reality of a 100-TB lake:
    // years of ingest generations whose schemas EVOLVED (columns added
    // later), and one logical table read across all of them. The query
    // materializes two real parquet generations under one root
    // (gen=1: pre-evolution, no `source` column; gen=2: evolved), then
    // reads the root with mergeSchema=true — footer schemas are merged,
    // pre-evolution rows surface the added column as NULL (never a
    // default, never a crash), and the generation partition column
    // comes back from the directory layout. The write is cached per
    // (session, source) like the staged stream dirs. The oracle
    // recomputes the expected merged result from the canonical table —
    // the same independent-semantics pattern as q42's envelope.
    // mergeSchema is a per-scan option (footer-sampling cost), which is
    // exactly the 100-TB posture: pay it on the catalog-registration
    // path once, not on every query.
    Q("q173_schema_drift",
      (s, dir) => {
        val merged = s.read.option("mergeSchema", "true")
          .parquet(driftRoot(s, dir))
        require(merged.columns.contains("source"),
          "evolved column must survive the schema merge")
        require(merged.columns.contains("gen"),
          "generation partition column must be discovered")
        merged.groupBy(
            coalesce(col("source"), lit("<pre_evolution>")).as("src"))
          .agg(count(lit(1)).as("n"),
            sum(length(col("text"))).cast(LongType).as("chars"),
            min(col("gen")).cast(LongType).as("first_gen"))
          .orderBy(col("src"))
      },
      Some("""SELECT CASE WHEN doc_id % 2 = 1 THEN source
             |    ELSE '<pre_evolution>' END AS src,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(length(text)) AS BIGINT) AS chars,
             |  CAST(MIN(CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 1 END)
             |    AS BIGINT) AS first_gen
             |FROM documents GROUP BY 1 ORDER BY src""".stripMargin)),

    // Transaction-log snapshot read + time travel — the lakehouse ACID
    // read path at 100 TB: a table is an ordered log of add/remove
    // file actions, a snapshot is the replay of a version prefix, and
    // `VERSION AS OF n` is the same replay stopped early. The layout
    // builder (cached per session+source) publishes three commits:
    // v0 = initial ingest (two files), v1 = append, v2 = a DELETE
    // executed as copy-on-write (publish the rewritten file, retract
    // the original — readers of v0/v1 are untouched; nothing is ever
    // rewritten in place). The query aggregates each version's
    // snapshot and REQUIREs the replay excluded the retracted file.
    // The oracle recomputes every snapshot's membership from the
    // canonical table. At scale the log is O(commits) driver-side
    // metadata (checkpointable, per the published protocols) and the
    // data tree is NEVER directory-listed — the log is the manifest.
    Q("q174_time_travel",
      (s, dir) => {
        import graft.operators.TxnLog
        val root = txnRoot(s, dir)
        val (v, live) = TxnLog.liveFiles(root, None)
        require(v == 2L && live.exists(_.endsWith("d3")) &&
          !live.exists(_.endsWith("d1")),
          s"snapshot replay wrong: v=$v live=$live")
        val snaps = (0L to 2L).map { ver =>
          TxnLog.snapshot(s, root, Some(ver))
            .agg(count(lit(1)).as("n"),
              sum(col("o_totalprice").cast(DecimalType(18, 2)))
                .cast(DoubleType).as("revenue"))
            .select(lit(ver).as("version"), col("n"), col("revenue"))
        }
        snaps.reduce(_ unionAll _).orderBy(col("version"))
      },
      Some("""WITH snap AS (
             |  SELECT CAST(0 AS BIGINT) AS version, o_totalprice
             |  FROM orders WHERE o_orderkey % 4 IN (0, 1)
             |  UNION ALL
             |  SELECT 1, o_totalprice
             |  FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
             |  UNION ALL
             |  SELECT 2, o_totalprice
             |  FROM orders WHERE o_orderkey % 4 IN (0, 2)
             |     OR (o_orderkey % 4 = 1 AND o_orderstatus <> 'F')
             |)
             |SELECT version, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS revenue
             |FROM snap GROUP BY version ORDER BY version""".stripMargin)),

    // Version-range change feed (CDC read) — what changed between two
    // snapshots, computed from the SAME txn log q174 publishes, and
    // bounded by CHURN, never table size: the log diff names only the
    // files that entered or left the live set (here d2,d3 in / d1
    // out), so a 100-TB table with a 10-GB daily delta reads 10 GB.
    // Row-level NET changes fall out of exceptAll between the two
    // bounded sides — the copy-on-write rewrite's carried-over rows
    // (d3's non-'F' bucket-1 rows, also in retracted d1) cancel, so
    // the feed reports exactly the appended bucket-2 rows as inserts
    // and the dropped 'F' rows as deletes, which is what a downstream
    // incremental consumer must see. The oracle recomputes both sides
    // from the canonical table's membership rules.
    Q("q176_change_feed",
      (s, dir) => {
        import graft.operators.TxnLog
        val root = txnRoot(s, dir)
        val (insFiles, delFiles) = TxnLog.changes(root, 0, 2)
        require(insFiles.map(_.split('/').last).toSet == Set("d2", "d3") &&
          delFiles.map(_.split('/').last).toSet == Set("d1"),
          s"log diff wrong: +$insFiles -$delFiles")
        val insSide = graft.util.ParquetRead.read(s, insFiles: _*)
        val delSide = graft.util.ParquetRead.read(s, delFiles: _*)
        // Multiset netting in ONE aggregate instead of two exceptAll
        // shuffles: tag ±1, group by the full row, keep the net count
        // — carried-over rows (in both sides) cancel exactly as they
        // do under exceptAll-both-ways, and since the feed's output is
        // aggregates (not rows), the surviving multiplicities fold
        // straight into the final sums. Each bounded side is scanned
        // once (the exceptAll form scanned each twice) and the one
        // wide shuffle is on the churn-sized union.
        val tagged = insSide.withColumn("_w", lit(1L))
          .unionByName(delSide.withColumn("_w", lit(-1L)))
        val net = tagged
          .groupBy(insSide.columns.map(col).toIndexedSeq: _*)
          .agg(sum(col("_w")).as("_net"))
          .filter(col("_net") =!= 0L)
        net.select(
            when(col("_net") > 0, "insert").otherwise("delete").as("change"),
            abs(col("_net")).as("_m"),
            col("o_totalprice"))
          .groupBy(col("change"))
          .agg(sum(col("_m")).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)) * col("_m"))
              .cast(DoubleType).as("revenue"))
          .orderBy(col("change"))
      },
      Some("""WITH ch AS (
             |  SELECT 'delete' AS change, o_totalprice FROM orders
             |  WHERE o_orderkey % 4 = 1 AND o_orderstatus = 'F'
             |  UNION ALL
             |  SELECT 'insert', o_totalprice FROM orders
             |  WHERE o_orderkey % 4 = 2)
             |SELECT change, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS revenue
             |FROM ch GROUP BY change ORDER BY change""".stripMargin)),

    // S2/S3 end-to-end over a real loopback HTTP transport (the last
    // SURVEY rows that were unit-only): pagination walk + _fields
    // projection + modified_gmt 60 s-tolerance delta skip + detail
    // fetch with 429-retry and 500 fault isolation. The oracle is an
    // independent Python replay of the same deterministic universe
    // (scripts/make_http_fixture.py) — see HttpIngestQuery.
    Q("q199_http_ingest",
      (s, _) => HttpIngestQuery.run(s),
      Some(s"SELECT wp_id, slug, action, price, bedrooms, attempts, error " +
        s"FROM '${graft.util.RepoRoot.fixture("http_expected.parquet")}' " +
        "ORDER BY wp_id"))
  )

  // One two-generation drift layout per (session, source dir):
  // gen=1 holds the even doc_ids with the PRE-evolution schema
  // (doc_id, text), gen=2 the odd doc_ids with the evolved schema
  // (doc_id, text, source).
  private val driftRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def driftRoot(s: org.apache.spark.sql.SparkSession,
                        dir: String): String =
    driftRoots.computeIfAbsent(
      s"${System.identityHashCode(s)}@$dir", { _ =>
        val root = graft.util.Scratch.tempDir("graft_q173_drift")
        val docs = graft.util.Tables(s, dir, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text"))
          .write.mode("overwrite").parquet(s"$root/gen=1")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text"), col("source"))
          .write.mode("overwrite").parquet(s"$root/gen=2")
        root
      })

  // One three-commit transaction-log table per (session, source dir).
  private val txnRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def txnRoot(s: org.apache.spark.sql.SparkSession,
                      dir: String): String =
    txnRoots.computeIfAbsent(
      s"${System.identityHashCode(s)}@$dir", { _ =>
        val root = graft.util.Scratch.tempDir("graft_q174_txn")
        val orders = graft.util.Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))
        def write(rel: String,
                  df: org.apache.spark.sql.DataFrame): String = {
          df.write.mode("overwrite").parquet(s"$root/$rel"); rel
        }
        import graft.operators.TxnLog
        TxnLog.commit(root, 0, adds = Seq(
          write("d0", orders.filter(col("o_orderkey") % 4 === 0)),
          write("d1", orders.filter(col("o_orderkey") % 4 === 1))))
        TxnLog.commit(root, 1, adds = Seq(
          write("d2", orders.filter(col("o_orderkey") % 4 === 2))))
        // the DELETE: rewrite d1 without its 'F' rows, retract d1
        TxnLog.commit(root, 2,
          adds = Seq(write("d3", orders.filter(
            col("o_orderkey") % 4 === 1 && col("o_orderstatus") =!= "F"))),
          removes = Seq("d1"))
        root
      })
}
