package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.operators.{Dedup, Similarity}

/** Standing artifacts: frames built once per (session, fixture dir) and then
  * read by many queries — the single-process stand-in for the indexes a
  * production deployment persists (the LSH band index, the IVF fit and cell
  * assignment, the graph-ANN tiers), so each consumer probes the standing
  * artifact instead of re-deriving it per query. Declared queries are
  * UNCHANGED when cold: tests and single-query runs never call [[warm]], so
  * plan pins and the DeterminismSpec partitioning flips exercise the full
  * cold pipeline, and WarmSharedSpec proves warm ≡ cold for every
  * [[families]] entry. An entry is keyed by session identity + dir, so a
  * stale frame cannot cross sessions or scales, and its checkpoint blocks
  * are released when it is replaced or cleared. */
object Standing {
  private final case class Entry(s: SparkSession, dir: String, value: Any,
    ids: Set[Int])
  private val entries = mutable.Map.empty[String, Entry]

  /** The artifact `name` for (s, dir), built on first use. The RDD ids the
    * build persists are pinned to the entry; an entry for another
    * (session, dir) is released first, so alternating dirs never leaks
    * stale checkpoint storage. */
  def apply[A](name: String, s: SparkSession, dir: String)(build: => A): A =
    synchronized {
      get[A](name, s, dir).getOrElse {
        entries.remove(name).foreach(release)
        val before = s.sparkContext.getPersistentRDDs.keySet
        val v = build
        val ids = (s.sparkContext.getPersistentRDDs.keySet -- before).toSet
        entries(name) = Entry(s, dir, v, ids)
        v
      }
    }

  /** The artifact `name` if it is standing for (s, dir) — the warm-only
    * lookup, so a cold run stays cold. */
  def get[A](name: String, s: SparkSession, dir: String): Option[A] =
    synchronized {
      entries.get(name).filter(e => (e.s eq s) && e.dir == dir)
        .map(_.value.asInstanceOf[A])
    }

  /** RDD ids pinned by every standing artifact. Harness cache sweeps must
    * exempt them (unpersisting a localCheckpoint orphans every later read
    * of it) and must read them per sweep: the graph tiers are built on first
    * use, mid-run. */
  def keepIds: Set[Int] = synchronized(entries.values.flatMap(_.ids).toSet)

  /** Release every artifact and return to the cold pipeline. */
  def clear(): Unit = synchronized {
    entries.values.foreach(release)
    entries.clear()
  }

  private def release(e: Entry): Unit =
    e.s.sparkContext.getPersistentRDDs
      .filter { case (id, _) => e.ids(id) }
      .values.foreach(_.unpersist(blocking = false))

  /** A warm function and the queries that consume what it builds. */
  final case class Family(name: String, consumers: Set[String],
    warm: (SparkSession, String) => Unit)

  /** In warm order: the graph tiers are built over the IVF fit. */
  lazy val families: Seq[Family] = Seq(
    Family("dedup", Dedup.sharedFamily, Dedup.warmShared),
    Family("IVF", Similarity.sharedFamily, Similarity.warmShared(_, _)),
    Family("graph", Similarity.graphFamily, Similarity.warmGraphShared))

  /** Build, for (s, dir), every family a `picked` query consumes. */
  def warm(picked: Iterable[String], s: SparkSession, dir: String): Unit =
    families.foreach(f => if (picked.exists(f.consumers)) f.warm(s, dir))
}
