package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once session temp views for the serving tier.
  *
  * The warm-serving materializers (the federated cache, the at-rest
  * rollups, the published dictionaries) are check-then-act: if the view is
  * missing, build it and publish it under its name. With concurrent
  * handlers, several first requests can all see the view missing and all
  * pay the build. `getOrBuild` is a double-checked lock keyed by view name:
  * the warm path is one catalog lookup with no lock, and on a cold view
  * exactly one caller builds while the others wait and then read its view.
  *
  * The lock is per view name, not per session: two sessions building the
  * same view name take turns, and each still builds its own view (the
  * re-check is against the caller's session catalog).
  */
object ServingViews {

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]

  /** The temp view `viewName` of `spark`, running `build` first (at most
    * once across racing callers) when the view does not exist yet. `build`
    * must publish `viewName`.
    */
  def getOrBuild(spark: SparkSession, viewName: String)(build: => Unit): DataFrame = {
    if (!spark.catalog.tableExists(viewName))
      locks.computeIfAbsent(viewName, _ => new AnyRef).synchronized {
        if (!spark.catalog.tableExists(viewName)) build
      }
    spark.table(viewName)
  }
}
