package org.apache.spark

import org.apache.spark.internal.config.{ConfigEntry, UI}
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Test-side bridge to Spark's registry of config entries, which is
  * `private[spark]`.
  */
object ConfKeys {
  // an entry registers when its holder object initialises: touch the
  // holders of every key graft sets before any lookup
  private val holders = Seq(UI.UI_ENABLED, SQLConf.SHUFFLE_PARTITIONS,
    StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES)

  /** Whether Spark registered a config entry named `key`. */
  def registered(key: String): Boolean =
    holders.nonEmpty && ConfigEntry.findEntry(key) != null
}
