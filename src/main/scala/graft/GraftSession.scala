package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built: local master over `cores`
  * threads, as many shuffle partitions, UTC session time zone, the
  * [[graft.engine.GraftExtensions]] plugin, the events-table read conf
  * and no UI. `extra` confs go on the builder, so static ones (e.g.
  * `spark.cleaner.*`) take effect too.
  *
  * Setup is idempotent: the builder ends in `getOrCreate`, so a second
  * call in the same JVM returns the running session (only runtime SQL
  * confs of the later call apply) instead of starting another context.
  */
object GraftSession {
  def apply(cores: Int, extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      .config(Tables.eventsReadConf._1, Tables.eventsReadConf._2)
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** `"k=v,k2=v2"` → conf pairs; items without `=` are skipped. */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(",").toSeq.map(_.split("=", 2)).collect {
      case Array(k, v) => k.trim -> v.trim
    }

  /** Sets the `SPARK_GRAFT_CONF="k=v,…"` pairs on the session — the A/B
    * hook that lets operator gates be flipped without code edits. */
  def applyEnvConf(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach(parseConf(_).foreach {
      case (k, v) => spark.conf.set(k, v)
    })
}
