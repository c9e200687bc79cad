package graft.queries

import graft.operators.{CdcDelta, Sessionize}
import graft.streaming.EventStreams
import graft.util.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-stream surface (SURVEY §2.9): JSON extraction, event-time
  * tumbling windows, gap sessionization, CDC delta — batch forms here;
  * the Structured Streaming variants live in graft.streaming.
  *
  * The driver's `events.parquet` has carried `ts` as either
  * TIMESTAMP(NANOS) (which Spark deliberately does not map to its µs
  * TimestampType — we read nanos as long via the legacy conf and
  * floor-convert) or native TIMESTAMP(MICROS) (which Spark maps
  * directly). Normalize both to µs TimestampType here so every
  * downstream query sees one shape; the DuckDB oracle's
  * `CAST(ts AS TIMESTAMP)` is the same floor-to-µs on either carrier.
  */
object EventQueries {

  /** events with `ts` as µs TimestampType (exact floor of the stored value). */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = Tables(s, dir, "events")
    raw.schema("ts").dataType match {
      case TimestampType => raw
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other; expected TIMESTAMP or ns-as-long")
    }
  }

  /** Tumbling hourly aggregate oracle — q15's, shared by the
    * streaming q92/q94/q170/q177/q178, whose pipelines must reproduce
    * the batch result exactly. */
  private[queries] def hourlySql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin

  val all: Seq[Q] = Seq(

    // F14 JSON extraction + aggregation (JSONB ->> casts,
    // loader_v2.py:167-175) over the props JSON column.
    Q("q14_json_extract",
      (s, dir) => events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Event-time tumbling window aggregation (engine surface for
    // ST1-ST4): the batch branch of EventStreams.hourlyByType, which
    // the streaming twins run under a watermark.
    Q("q15_hourly_windows",
      (s, dir) => EventStreams.hourlyByType(events(s, dir))
        .orderBy(col("hour_start"), col("event_type")),
      Some(hourlySql),
      headline = true),

    // Gap-based sessionization (session_window analog).
    Q("q16_sessionize",
      (s, dir) => Sessionize(events(s, dir), "user_id", "ts", "event_id", 1800L)
        .orderBy(col("user_id"), col("session_seq")),
      Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t FROM events),
             |lagd AS (SELECT *, lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt FROM e),
             |flag AS (SELECT *, CASE WHEN pt IS NULL OR
             |    CAST(floor(epoch(t)) AS BIGINT) - CAST(floor(epoch(pt)) AS BIGINT) > 1800
             |  THEN 1 ELSE 0 END AS nf FROM lagd),
             |sess AS (SELECT *, SUM(nf) OVER (PARTITION BY user_id ORDER BY t, event_id
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sseq FROM flag)
             |SELECT user_id, CAST(sseq AS BIGINT) AS session_seq,
             |  MIN(t) AS session_start, MAX(t) AS session_end, COUNT(*) AS n_events
             |FROM sess GROUP BY user_id, sseq
             |ORDER BY user_id, session_seq""".stripMargin)),

    // J5 incremental-sync delta with 60 s clock-skew tolerance
    // (run_ingest.py:81-87 + base_provider.py:111-174): which clicks
    // happened after the user's last known view?
    Q("q17_cdc_delta",
      (s, dir) => {
        val ev = events(s, dir)
        val source = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val known = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(max(col("ts")).as("last_ts"))
        CdcDelta(source, known, Seq("user_id"), "ts", "last_ts", 60L)
          .select(col("event_id"), col("user_id"), col("change_type"))
          .orderBy(col("event_id"))
      },
      Some("""WITH src AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |  FROM events WHERE event_type = 'click'),
             |st AS (SELECT user_id, MAX(CAST(ts AS TIMESTAMP)) AS last_ts
             |  FROM events WHERE event_type = 'view' GROUP BY user_id)
             |SELECT event_id, src.user_id,
             |  CASE WHEN last_ts IS NULL THEN 'new' ELSE 'updated' END AS change_type
             |FROM src LEFT JOIN st ON src.user_id = st.user_id
             |WHERE last_ts IS NULL
             |   OR CAST(floor(epoch(ts)) AS BIGINT) > CAST(floor(epoch(last_ts)) AS BIGINT) + 60
             |ORDER BY event_id""".stripMargin)),

    // KMV (k-minimum-values / bottom-k) distinct sketch per event
    // type (Bar-Yossef et al. RANDOM'02; the mergeable cardinality
    // sketch family behind approx_count_distinct). Hash each user to
    // 48 bits (md5 prefix — exact in IEEE double), keep the k=64
    // smallest distinct hashes per group: estimate = (k-1) * 2^48 /
    // h_k, or the exact distinct count when a group has fewer than k
    // values. Deterministic on both engines — integer hashing,
    // exactly-representable scale constant, one exactly-rounded
    // division. The bottom-k IS a partial aggregate
    // (functions.BottomKDistinct): each partition keeps its own k
    // smallest distinct hashes, merge keeps the k smallest of the
    // union — so only k longs per (partition, group) cross the wire,
    // no `.distinct()` pre-shuffle and no window sort of a group's
    // full distinct set. The 100 TB shape by construction.
    Q("q79_kmv_distinct",
      (s, dir) => {
        val k = 64
        val bottomK = udaf(new graft.functions.BottomKDistinct(k),
          org.apache.spark.sql.Encoders.scalaLong)
        events(s, dir)
          .filter(col("user_id").isNotNull)
          .select(col("event_type"),
            conv(substring(md5(col("user_id").cast(StringType)), 1, 12), 16, 10)
              .cast(LongType).as("h"))
          .groupBy(col("event_type"))
          .agg(bottomK(col("h")).as("bk"))
          .select(col("event_type"),
            size(col("bk")).cast(LongType).as("nk"),
            element_at(col("bk"), -1).as("hk"))
          .select(col("event_type"), col("nk"),
            round(when(col("nk") < k, col("nk").cast(DoubleType))
              .otherwise(lit((k - 1).toDouble * math.pow(2, 48)) /
                col("hk").cast(DoubleType)), 4).as("est_distinct"))
          .orderBy(col("event_type"))
      },
      Some("""WITH h AS (SELECT DISTINCT event_type,
             |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
             |  FROM events WHERE user_id IS NOT NULL),
             |rk AS (SELECT event_type, h,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
             |tk AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nk, MAX(h) AS hk
             |  FROM rk WHERE rn <= 64 GROUP BY event_type)
             |SELECT event_type, nk,
             |  round(CASE WHEN nk < 64 THEN CAST(nk AS DOUBLE)
             |    ELSE CAST(17732923532771328 AS DOUBLE) / CAST(hk AS DOUBLE) END, 4) AS est_distinct
             |FROM tk ORDER BY event_type""".stripMargin)),

    // SLIDING windows (1 h window, 30 min slide — q15 covers tumbling
    // only): every event belongs to window/slide = 2 overlapping
    // windows. The oracle replays Spark's epoch-aligned window
    // assignment by exploding each event into its k = 0..1 bucket
    // starts (DuckDB time_bucket's 2000-01-03 origin sits on the
    // 30-minute epoch grid, so the alignment is identical).
    Q("q82_sliding_windows",
      (s, dir) => EventStreams.slidingByType(events(s, dir))
        .orderBy(col("win_start"), col("event_type")),
      Some("""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events),
             |w AS (SELECT event_type, value,
             |    time_bucket(INTERVAL '30 minutes', t) - k * INTERVAL '30 minutes' AS win_start
             |  FROM e, unnest(generate_series(0, 1)) AS u(k))
             |SELECT win_start, event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)),

    // HyperLogLog distinct sketch per event type (Flajolet et al.
    // AofA'07) — the REGISTER form, complementing q79's bottom-k KMV:
    // m = 64 registers, bucket = low 6 hash bits, register value =
    // leading-zero rank of the remaining 42 bits, estimate =
    // alpha_64 * m^2 / sum(2^-Mj). Cross-engine determinism: the rank
    // comes from the padded bit STRING (no log2), the harmonic sum is
    // accumulated as the exact integer sum of 2^(48-Mj) (every term a
    // power of two, total <= 2^54 — no double rounding), and the
    // estimate is one exactly-rounded division by an
    // exactly-representable constant. The small-range linear-counting
    // correction is deliberately omitted (ln() is cross-engine
    // ULP-risky); this is the raw HLL estimator the mergeable sketch
    // state supports. At 100 TB: state is 64 bytes per group
    // regardless of cardinality, partial-aggregates merge by register
    // max — the reason HLL replaces COUNT(DISTINCT) at scale.
    Q("q83_hll_registers",
      (s, dir) => {
        val m = 64
        val zeroTerm = 1L << 48 // 2^48: an untouched register's 2^(48-0)
        // alpha_64 * m^2 * 2^48, left-to-right IEEE product — DuckDB
        // const-folds the identical expression to the identical bits
        val numer = 0.709 * 4096.0 * 281474976710656.0
        val h = events(s, dir).filter(col("user_id").isNotNull)
          .select(col("event_type"),
            conv(substring(md5(col("user_id").cast(StringType)), 1, 12), 16, 10)
              .cast(LongType).as("h"))
        val regs = h
          .select(col("event_type"),
            col("h").bitwiseAND(lit(63L)).as("bucket"),
            shiftright(col("h"), 6).as("suffix"))
          .withColumn("pos", instr(lpad(bin(col("suffix")), 42, "0"), "1"))
          .withColumn("r", when(col("pos") === 0, lit(43)).otherwise(col("pos")))
          .groupBy(col("event_type"), col("bucket"))
          .agg(max(col("r")).as("mj"))
        regs.groupBy(col("event_type"))
          .agg(count(lit(1)).as("regs_used"),
            sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(48 - mj AS INT))"))
              .as("_present"))
          .withColumn("sum_int",
            col("_present") + (lit(m.toLong) - col("regs_used")) * lit(zeroTerm))
          .select(col("event_type"), col("regs_used"),
            round(lit(numer) / col("sum_int").cast(DoubleType), 4)
              .as("est_distinct"))
          .orderBy(col("event_type"))
      },
      Some("""WITH h AS (SELECT event_type,
             |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
             |  FROM events WHERE user_id IS NOT NULL),
             |b AS (SELECT event_type, h & 63 AS bucket,
             |    strpos(lpad(bin(h >> 6), 42, '0'), '1') AS pos FROM h),
             |regs AS (SELECT event_type, bucket,
             |    MAX(CASE WHEN pos = 0 THEN 43 ELSE pos END) AS mj
             |  FROM b GROUP BY event_type, bucket),
             |agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS regs_used,
             |    SUM(CAST(1 AS BIGINT) << (48 - mj)) AS present
             |  FROM regs GROUP BY event_type)
             |SELECT event_type, regs_used,
             |  round((CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) * CAST(281474976710656 AS DOUBLE))
             |    / CAST(present + (64 - regs_used) * (CAST(1 AS BIGINT) << 48) AS DOUBLE), 4) AS est_distinct
             |FROM agg ORDER BY event_type""".stripMargin)),

    // Histogram-CDF quantile sketch — the third of the mergeable
    // sketch family (q79 KMV distinct, q83 HLL registers): 64
    // equal-width bins over the global value range; per-group bin
    // counts are the sketch state (merge = vector add), and the
    // p-quantile estimate is the midpoint of the first bin whose
    // cumulative count reaches ceil(p·n). Estimation error is bounded
    // by bin width — the classic fixed-memory streaming-quantile
    // trade; everything up to the final midpoint formula is integer
    // arithmetic, so cross-engine parity is exact. The range scan is
    // one pass, the bounds are a 1-row broadcast.
    Q("q91_quantile_sketch",
      (s, dir) => {
        val b = 64
        val ev = events(s, dir).filter(col("value").isNotNull)
          .select(col("event_type"), col("value"))
        val mm = ev.agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
        val width = (col("vmax") - col("vmin")) / lit(b.toDouble)
        val binned = ev.crossJoin(broadcast(mm))
          // degenerate range (all values equal → width 0) pins bin 0;
          // without the guard 0/0 = NaN diverges across engines
          .withColumn("bin",
            when(col("vmax") === col("vmin"), lit(0))
              .otherwise(least(
                floor((col("value") - col("vmin")) / width).cast(IntegerType),
                lit(b - 1))))
          .groupBy(col("event_type"), col("bin"))
          .agg(count(lit(1)).as("cnt"))
        val wCum = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("bin"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
        val cum = binned
          .withColumn("cum", sum(col("cnt")).over(wCum))
          .withColumn("n", sum(col("cnt")).over(wAll))
        cum.withColumn("p", explode(array(lit(0.5), lit(0.9), lit(0.99))))
          .filter(col("cum") >= ceil(col("p") * col("n")).cast(LongType))
          .groupBy(col("event_type"), col("p"))
          .agg(min(col("bin")).as("qbin"))
          .crossJoin(broadcast(mm))
          .select(col("event_type"), col("p"),
            round(col("vmin") + (col("qbin") + lit(0.5)) * width, 6)
              .as("est_value"))
          .orderBy(col("event_type"), col("p"))
      },
      Some("""WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
             |mm AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM e),
             |b AS (SELECT event_type,
             |    CASE WHEN vmax = vmin THEN 0
             |      ELSE least(CAST(floor((value - vmin) /
             |        ((vmax - vmin) / CAST(64 AS DOUBLE))) AS INT), 63) END AS bin
             |  FROM e, mm),
             |c AS (SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM b GROUP BY 1, 2),
             |cum AS (SELECT event_type, bin,
             |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             |    CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
             |  FROM c),
             |ps AS (SELECT * FROM (VALUES (CAST(0.5 AS DOUBLE)),
             |    (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))) AS t(p)),
             |sel AS (SELECT event_type, p, MIN(bin) AS qbin
             |  FROM cum, ps WHERE cum >= CAST(ceil(p * n) AS BIGINT)
             |  GROUP BY 1, 2)
             |SELECT event_type, p,
             |  round(vmin + (qbin + CAST(0.5 AS DOUBLE))
             |    * ((vmax - vmin) / CAST(64 AS DOUBLE)), 6) AS est_value
             |FROM sel, mm ORDER BY event_type, p""".stripMargin)),

    // Privacy-preserving export: salted-hash pseudonymization of the
    // user id (deterministic tokenization — joinable across exports,
    // unlinkable to the raw id without the pepper) plus k-anonymity
    // suppression over the quasi-identifier pair (event_type, date):
    // any group whose anonymity set — DISTINCT individuals, not event
    // rows (one chatty user with 5 events is still an anonymity set
    // of 1) — is smaller than k=5 gets its tokens withheld. Group
    // sizes come from a partial-aggregable distinct-count broadcast
    // back onto the rows (a window over the quasi-identifier keys
    // would buffer a whole type-day in one task at corpus scale); the
    // token is a codegen'd sha2 — nothing leaves the executors.
    Q("q85_pseudonymize",
      (s, dir) => {
        val k = 5
        val ev = events(s, dir).filter(col("user_id").isNotNull)
          .select(col("event_id"), col("event_type"), col("user_id"),
            to_date(col("ts")).as("event_date"),
            substring(sha2(concat(lit("pepper:"),
              col("user_id").cast(StringType)), 256), 1, 16).as("_tok"))
        val sizes = ev.groupBy(col("event_type"), col("event_date"))
          .agg(countDistinct(col("user_id")).as("grp_n"))
        ev.join(broadcast(sizes), Seq("event_type", "event_date"))
          .select(col("event_id"), col("event_type"), col("event_date"),
            when(col("grp_n") < k, lit("SUPPRESSED")).otherwise(col("_tok"))
              .as("user_token"),
            col("grp_n"), (col("grp_n") < k).as("suppressed"))
          .orderBy(col("event_id"))
      },
      Some("""WITH e AS (SELECT event_id, event_type, user_id,
             |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
             |    substr(sha256('pepper:' || CAST(user_id AS VARCHAR)), 1, 16) AS tok
             |  FROM events WHERE user_id IS NOT NULL),
             |g AS (SELECT event_type, event_date,
             |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS grp_n
             |  FROM e GROUP BY 1, 2)
             |SELECT event_id, e.event_type, e.event_date,
             |  CASE WHEN grp_n < 5 THEN 'SUPPRESSED' ELSE tok END AS user_token,
             |  grp_n, grp_n < 5 AS suppressed
             |FROM e JOIN g ON e.event_type = g.event_type AND e.event_date = g.event_date
             |ORDER BY event_id""".stripMargin)),

    // Count-Min Sketch frequency estimates (Cormode & Muthukrishnan
    // 2005) — the point-frequency member of the sketch family next to
    // KMV (q79, distinct), HLL (q83, cardinality), and the histogram
    // CDF (q91, quantiles). d=4 hash rows × w=64 counters; all four
    // row hashes come from ONE md5 per key (the digest's four 32-bit
    // hex words — the one-hash-many-rows trick of Kirsch &
    // Mitzenmacher 2006, vs the md5-per-row form that cost 4× the hash
    // work and a 24× driver-window ratio in r10). Counters MERGE BY
    // ADDITION — the property that makes the sketch order- and
    // partition-invariant (exactly why Misra-Gries, whose merge is
    // order-sensitive, is NOT in this family) — which also means
    // pre-aggregated per-key counts fold in exactly: since this query
    // already reports exact counts alongside the estimates, the whole
    // pipeline is ONE map-side-combined scan of events, and the
    // sketch + probes run over the ≤|distinct keys| aggregate. (When
    // the key cardinality doesn't fit an exact aggregate — the real
    // CMS use case — the counters groupBy((r,c)) directly over the
    // stream with ≤ d·w rows of map-side state; q109's point is the
    // estimate-vs-exact guarantee, which needs the exact agg anyway.)
    // Estimates = min over rows, always ≥ exact; md5-derived hashes
    // make both engines bit-identical, collisions included.
    Q("q109_cms_counts",
      (s, dir) => {
        val ev = events(s, dir).select(col("event_type"))
        // tiny (≤ |distinct event_type| rows); eager checkpoint so the
        // counters and probe branches below share ONE events scan
        val exact = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).cast(LongType).as("exact_count"))
          .localCheckpoint()
        val cms = "transform(sequence(0, 3), i -> named_struct('r', i, " +
          "'c', CAST(conv(substring(md5(event_type), i*8+1, 8), 16, 10) " +
          "AS BIGINT) % 64))"
        val keyed = exact
          .select(col("event_type"), col("exact_count"),
            explode(expr(cms)).as("b"))
          .select(col("event_type"), col("exact_count"),
            col("b.r").as("r"), col("b.c").as("c"))
        val counters = keyed.groupBy(col("r"), col("c"))
          .agg(sum(col("exact_count")).cast(LongType).as("n"))
        keyed.join(counters, Seq("r", "c"))
          .groupBy(col("event_type"), col("exact_count"))
          .agg(min(col("n")).as("est_count"))
          .select(col("event_type"), col("est_count"), col("exact_count"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ex AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_count
             |  FROM events GROUP BY event_type),
             |b AS (SELECT event_type, exact_count, i,
             |    ('0x' || substr(md5(event_type), CAST(i*8+1 AS INT), 8))::BIGINT % 64 AS c
             |  FROM ex, unnest(range(0, 4)) AS u(i)),
             |cnt AS (SELECT i, c, CAST(SUM(exact_count) AS BIGINT) AS n
             |  FROM b GROUP BY i, c),
             |est AS (SELECT b.event_type, MIN(cnt.n) AS est_count
             |  FROM b JOIN cnt ON cnt.i = b.i AND cnt.c = b.c
             |  GROUP BY b.event_type)
             |SELECT est.event_type AS event_type, est_count, exact_count
             |FROM est JOIN ex ON est.event_type = ex.event_type
             |ORDER BY est.event_type""".stripMargin)),

    // KMV sketch SET ALGEBRA (Beyer et al., SIGMOD 2007 §3 — public):
    // estimate |viewers ∩ purchasers| from two bottom-64 sketches
    // WITHOUT touching the full sets again. X = bottom-k of the
    // union sketch; ρ = |X ∩ K_A ∩ K_B|/|X| estimates the Jaccard
    // share, scaled by the union estimate (k-1)·2⁴⁸/max(X). This is
    // the audience-overlap query a 100 TB engine answers from
    // kilobyte sketches: the only full-data pass is the same
    // map-side-combined bottom-k aggregate as q79 (O(k) mergeable
    // state per group); the algebra runs on two ≤64-element arrays.
    // The exact intersection rides along to exhibit the estimate's
    // accuracy; sketches are md5-derived so the oracle replays the
    // whole pipeline bit-for-bit.
    Q("q119_kmv_intersect",
      (s, dir) => {
        val k = 64
        val bottomK = udaf(new graft.functions.BottomKDistinct(k),
          org.apache.spark.sql.Encoders.scalaLong)
        val h = events(s, dir)
          .filter(col("user_id").isNotNull &&
            col("event_type").isin("view", "purchase"))
          .select(col("event_type"),
            conv(substring(md5(col("user_id").cast(StringType)), 1, 12), 16, 10)
              .cast(LongType).as("h"))
          .distinct()
        val sk = h.groupBy(col("event_type")).agg(bottomK(col("h")).as("bk"))
        val ka = sk.filter(col("event_type") === "view")
          .select(col("bk").as("ka"))
        val kb = sk.filter(col("event_type") === "purchase")
          .select(col("bk").as("kb"))
        val exact = h.groupBy(col("h"))
          .agg(countDistinct(col("event_type")).as("nt"))
          .filter(col("nt") === 2)
          .agg(count(lit(1)).cast(LongType).as("exact_intersection"))
        ka.crossJoin(kb)
          .select(size(col("ka")).cast(LongType).as("ka_n"),
            size(col("kb")).cast(LongType).as("kb_n"),
            slice(array_sort(array_union(col("ka"), col("kb"))), 1, k).as("x"),
            col("ka"), col("kb"))
          .select(col("ka_n"), col("kb_n"),
            size(col("x")).cast(LongType).as("kx"),
            expr("CAST(size(filter(x, v -> array_contains(ka, v) AND array_contains(kb, v))) AS BIGINT)")
              .as("inter_k"),
            element_at(col("x"), -1).as("hmax"))
          .select(col("ka_n"), col("kb_n"), col("kx"), col("inter_k"),
            round(when(col("kx") < k, col("inter_k").cast(DoubleType))
              .otherwise(col("inter_k").cast(DoubleType) / col("kx") *
                (lit((k - 1).toDouble * math.pow(2, 48)) /
                  col("hmax").cast(DoubleType))), 4)
              .as("est_intersection"))
          .crossJoin(exact)
      },
      Some("""WITH h AS (SELECT DISTINCT event_type,
             |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
             |  FROM events WHERE user_id IS NOT NULL
             |    AND event_type IN ('view', 'purchase')),
             |rk AS (SELECT event_type, h,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
             |ka AS (SELECT h FROM rk WHERE event_type = 'view' AND rn <= 64),
             |kb AS (SELECT h FROM rk WHERE event_type = 'purchase' AND rn <= 64),
             |x AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) u
             |  ORDER BY h LIMIT 64),
             |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS kx, MAX(h) AS hmax,
             |    CAST(SUM(CASE WHEN h IN (SELECT h FROM ka)
             |      AND h IN (SELECT h FROM kb) THEN 1 ELSE 0 END) AS BIGINT) AS inter_k
             |  FROM x),
             |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS ka_n FROM ka),
             |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS kb_n FROM kb),
             |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection
             |  FROM (SELECT h FROM h WHERE event_type = 'view'
             |    INTERSECT SELECT h FROM h WHERE event_type = 'purchase') i)
             |SELECT ka_n, kb_n, kx, inter_k,
             |  round(CASE WHEN kx < 64 THEN CAST(inter_k AS DOUBLE)
             |    ELSE CAST(inter_k AS DOUBLE) / kx *
             |      (CAST(17732923532771328 AS DOUBLE) / CAST(hmax AS DOUBLE))
             |    END, 4) AS est_intersection,
             |  exact_intersection
             |FROM st, na, nb, ex""".stripMargin)),

    // Time-series GAP FILL / resample: hourly per-type aggregates
    // DENSIFIED onto the complete hour spine (every hour between the
    // corpus min and max, per type, zero-filled) — the operation
    // every downstream charting/forecast join needs, and one naive
    // SQL gets wrong by just GROUP BY-ing observed hours. The spine
    // is generated, not scanned: |types| × |hours| rows from a 1-row
    // bounds scalar broadcast into a sequence() explode — no
    // corpus-sized shuffle beyond the base aggregate; the left join
    // back is keyed on (type, hour), the same key the aggregate
    // already shuffled on. Sums accumulate as DECIMAL(18,2) (q15
    // discipline) so the zero-fill and the observed values share one
    // exact domain.
    Q("q124_gap_fill",
      (s, dir) => {
        val ev = events(s, dir).select(col("event_type"),
          date_trunc("hour", col("ts")).as("h"), col("value"))
        val agg = ev.groupBy(col("event_type"), col("h"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 2))).as("sv"))
        val bounds = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        val spine = agg.select(col("event_type")).distinct()
          .crossJoin(broadcast(bounds))
          .select(col("event_type"),
            explode(expr("sequence(h0, h1, INTERVAL 1 HOUR)")).as("h"))
        spine.join(agg, Seq("event_type", "h"), "left")
          .select(col("event_type"), col("h").as("hour_start"),
            coalesce(col("n"), lit(0L)).as("n"),
            coalesce(col("sv"), lit(BigDecimal(0)).cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_value"))
          .orderBy(col("event_type"), col("hour_start"))
      },
      Some("""WITH e AS (SELECT event_type,
             |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, value
             |  FROM events),
             |a AS (SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS n,
             |    SUM(CAST(value AS DECIMAL(18,2))) AS sv
             |  FROM e GROUP BY event_type, h),
             |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM e),
             |t AS (SELECT DISTINCT event_type FROM a),
             |spine AS (SELECT event_type,
             |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
             |  FROM t, b)
             |SELECT s.event_type, s.h AS hour_start,
             |  COALESCE(n, 0) AS n,
             |  CAST(COALESCE(sv, 0) AS DOUBLE) AS sum_value
             |FROM spine s LEFT JOIN a ON s.event_type = a.event_type
             |  AND s.h = a.h
             |ORDER BY s.event_type, hour_start""".stripMargin))
  )
}
