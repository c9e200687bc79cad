package graft.util

import org.apache.spark.sql.SparkSession

/** The `SPARK_GRAFT_SETCONF="k=v;k=v"` conf hook of the multi-query
  * mains (Verify, Probe, ScaleTrial): runtime-settable SQL confs only,
  * static core confs go through javaOptions `-D`. E.g.
  * `spark.graft.localExactMaxRows=0` forces every hybrid operator (each
  * dispatches through LocalExact) onto its distributed path,
  * `spark.sql.adaptive.enabled=false` times a sweep without AQE. */
object SetConf {
  /** `k=v;k=v` → pairs, in order; an entry without `=` is ignored. */
  def parse(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }

  /** Sets every pair of `SPARK_GRAFT_SETCONF` on the session and
    * returns them. */
  def apply(spark: SparkSession): Seq[(String, String)] = {
    val kvs = sys.env.get("SPARK_GRAFT_SETCONF").toSeq.flatMap(parse)
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    kvs
  }
}
