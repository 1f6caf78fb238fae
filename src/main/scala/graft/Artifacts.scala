package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** The one memo for the trained artifacts several queries share (LSH
  * candidate pairs, CC labels, k-means and PQ fits, BPE merges, the KN
  * model, fingerprint sets, syndication edges). An entry is keyed by
  * (dir, name) and lives as long as the application that built it:
  * Spark allows one live SparkContext per JVM, so the map records the
  * application id it belongs to, and a lookup from a different
  * application drops every entry before building. A stopped session's
  * checkpointed blocks are therefore never served to a new one, nor
  * kept reachable for the rest of the JVM's life.
  *
  * `build` runs outside the map (`TrieMap.getOrElseUpdate`), so a build
  * may itself `get` another artifact (CC labels build on candidate
  * pairs). Two racing first lookups may both build; the first insert
  * wins and both callers receive it.
  */
object Artifacts {

  private var appId = ""
  private var entries = TrieMap.empty[(String, String), Any]

  /** The artifact `name` (a literal such as `"Dedup.ccLabels"`) over
    * the tables in `dir`, built once per application.
    */
  def get[T](spark: SparkSession, dir: String, name: String)(build: => T): T =
    get(spark.sparkContext.applicationId, dir, name)(build)

  /** As above for an explicit application id (spec hook). */
  private[graft] def get[T](id: String, dir: String, name: String)(build: => T): T =
    entriesOf(id).getOrElseUpdate((dir, name), build).asInstanceOf[T]

  private def entriesOf(id: String): TrieMap[(String, String), Any] =
    synchronized {
      if (id != appId) { appId = id; entries = TrieMap.empty }
      entries
    }
}
