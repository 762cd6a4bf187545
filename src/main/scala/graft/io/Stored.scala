package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Run-once stored artifacts: the query layer's intermediates kept as
  * named zone tables and read back rather than recomputed, the `work`
  * zone discipline of the reference's upload, swap and staged tables.
  *
  * An artifact is built at most once per key in a JVM ([[Once]], keyed
  * by (session, dataset) unless a store says otherwise), written through
  * [[AtomicWrite]] into a zone of `Zones.forPurpose(purpose)` under
  * `<table>_<pathKey(d)>` ([[Zone]]), and read back by every consumer.
  * The build is unconditional once per JVM, so a store never serves
  * tables another build version wrote; stores that skip tables a warm
  * zone already holds carry their version in the purpose instead.
  */
object Stored {

  /** A build-once memo: `apply(key)(build)` runs `build` the first time
    * `key` is seen and returns the remembered value after that.
    */
  final class Once[K, V] {
    private val built = scala.collection.concurrent.TrieMap.empty[K, V]
    def apply(key: K)(build: => V): V = built.getOrElseUpdate(key, build)
  }

  /** A [[Once]] keyed by (session, dataset path). */
  def perDataset[V]: Once[(SparkSession, String), V] = new Once

  /** The stored name of `table` for dataset `d`: `<table>_<pathKey(d)>`. */
  def name(table: String, d: String): String = s"${table}_${Zones.pathKey(d)}"

  /** One zone of a purpose's namespace, its tables named per dataset. */
  final case class Zone(purpose: String, zone: String) {
    val zones: Zones = Zones.forPurpose(purpose)
    def write(df: DataFrame, d: String, table: String): Unit =
      zones.write(df, zone, name(table, d))
    def read(s: SparkSession, d: String, table: String): DataFrame =
      zones.read(s, zone, name(table, d))
  }

  /** A one-table artifact: `build` runs once per (session, dataset), its
    * frame is written to `table` of `at` and the read-back frame is what
    * every call returns. `release` gets the built frame after the write
    * (an iterative build hands back its still-persisted last round).
    */
  final class Table(at: Zone, table: String,
      build: (SparkSession, String) => DataFrame,
      release: DataFrame => Unit = _ => ()) {
    private val once = perDataset[DataFrame]
    def apply(s: SparkSession, d: String): DataFrame = once((s, d)) {
      val df = build(s, d)
      at.write(df, d, table)
      release(df)
      at.read(s, d, table)
    }
  }
}
