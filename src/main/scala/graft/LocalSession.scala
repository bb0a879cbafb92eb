package graft
import org.apache.spark.sql.SparkSession

/** The session every local main runs on (`ClusterSmoke` keeps its own
  * `local-cluster` master): `local[cores]` with as many shuffle
  * partitions as cores, the graft extensions, UTC, and single-node
  * tuning. `SPARK_GRAFT_CONF="k=v;k=v"` adds ad-hoc confs on top, so
  * bench, profile, A/B, plan and verify runs all see the same settings.
  */
object LocalSession {
  /** `cores` defaults to `SPARK_GRAFT_CPUS`, else 32. */
  def builder(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // single-node tuning: Kryo cuts task/closure serialization; shuffle
      // compression is pure CPU overhead when there is no network hop (a
      // real cluster keeps compression ON — this is local-mode-only).
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); b.config(k, v) })
    b
  }
}
