package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session recipe the mains and the test suite share:
  * `local[cores]` with as many shuffle partitions, the graft SQL
  * extensions and `graft` catalog, v2 bucketing (storage-partitioned
  * joins over bucketed store tables), a UTC session clock and no UI.
  * Callers add their own confs before `getOrCreate()`.
  */
object LocalSession {
  def builder(appName: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "org.apache.spark.sql.graft.store.GraftCatalog")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
