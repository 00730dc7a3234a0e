package graft.core

import org.apache.spark.sql.SparkSession

/** Scoped AQE tuning for tiny-row CPU-heavy aggregation loops.
  *
  * AQE's post-shuffle partition coalescing is BYTE-based (advisory
  * 64 MB default). Graph rounds aggregate 16-byte (node, label) rows
  * that are expensive PER ROW to hash-aggregate, so the byte heuristic
  * coalesces a 512-partition plan back to a few fat tasks whose agg
  * hash state outgrows cache — the measured 40M-edge LPA A/B (SCALE.md
  * "label_propagation at 40M") read 2.2× wall and 2.1× task CPU for
  * the 64 MB default vs an 8 MB advisory. This helper applies the 8 MB
  * advisory for the duration of an eager per-round loop and restores
  * the caller's setting after, so the remedy is the library default
  * rather than a tuning note.
  *
  * Scope caveat: the advisory is a SESSION conf, so a concurrent query
  * on the same session executing inside `body`'s window sees it too —
  * harmless for plan choice (coalescing granularity only, never
  * results), and the library's drivers (Verify/Bench/soaks) run
  * queries sequentially. Concurrent WRAPPERS on one session are safe:
  * a per-session reference count makes the first entry save the
  * caller's value and the last exit restore it (a naive set/restore
  * pair would let two overlapping loops clobber each other's restore
  * and leave the advisory permanently altered).
  */
object AqeHints {

  private val AdvisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val TinyRowAdvisory = "8m"

  /** Per-session nesting depth + the conf value saved by the OUTERMOST
    * wrapper (restored only when the count returns to zero). Keyed by
    * session identity; entries are removed on last exit so a session's
    * lifetime is not extended by this map.
    */
  private val active =
    new java.util.IdentityHashMap[SparkSession, (Int, Option[String])]()

  /** Run `body` (an eager loop — the frames it materializes must
    * execute inside it, e.g. via localCheckpoint(true) or count) with
    * the advisory partition size dropped to 8 MB.
    */
  def withTinyRowAdvisory[T](spark: SparkSession)(body: => T): T = {
    active.synchronized {
      active.get(spark) match {
        case null =>
          val prev = spark.conf.getOption(AdvisoryKey)
          spark.conf.set(AdvisoryKey, TinyRowAdvisory)
          active.put(spark, (1, prev))
        case (n, prev) =>
          active.put(spark, (n + 1, prev)) // inner wrapper: no re-save
      }
    }
    try body
    finally active.synchronized {
      active.get(spark) match {
        case (1, prev) =>
          active.remove(spark)
          prev match {
            case Some(v) => spark.conf.set(AdvisoryKey, v)
            case None    => spark.conf.unset(AdvisoryKey)
          }
        case (n, prev) => active.put(spark, (n - 1, prev))
      }
    }
  }
}
