package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** Session-scoped cache of persisted DataFrames, keyed by a logical
  * name (e.g. `"index:<corpus dir>"`). Many registered queries share
  * expensive lineages (the inverted index, document shingles, simhash
  * signatures); without a shared persist each query re-executes the
  * full scan + shuffle chain. Sessions are weak keys: a stopped, GC'd
  * session drops its entries.
  *
  * Growth is BOUNDED per key family: keys follow the
  * `family:qualifier` convention, and each family keeps at most
  * [[familyCap]] live entries per session, least-recently-touched
  * evicted (correctness never depends on residency). The query-derived
  * join-search families — `colscores:` (one per (index, query maps)
  * pair, so one per landed batch for a live index), `qmaps:`,
  * `prunedverdict:`, `gbv-mapped:` and the `qkeys:` and `prunedids:`
  * memos — would otherwise grow for a serving session's lifetime;
  * the index-derived ones (`idxstats:`, `idxsketch:`, `tablebits:`)
  * add one entry per index identity. The conjunction itself is never
  * persisted: only its column scores are.
  *
  * A build runs once per key: concurrent callers of one missing key
  * wait on that key's lock and share the first caller's entry, so a
  * racing caller neither repeats the build's Spark jobs nor leaves a
  * second, unreachable CacheManager entry behind.
  *
  * No caller names an entry's durable sources: on a miss they are
  * derived from the built frame's analyzed plan ([[sourcesOf]]), and a
  * gate rebuild drops every entry over a rewritten source
  * ([[invalidateDerived]]).
  */
object DfCache {

  /** Max live entries per key family per session. Far above any
    * bench/verify working set (≤ ~10 per family); what it bounds is
    * the serve-session shape where every distinct probe batch mints a
    * new semantically-keyed entry forever.
    */
  val familyCap = 64

  private def familyOf(key: String): String = key.takeWhile(_ != ':')

  /** One kind of session entry, held with its derived sources and
    * LRU-bounded per key family. `evict` releases what an entry holds
    * when the cap, an invalidation or a lost build race drops it.
    */
  private final class Store[V](evict: V => Unit) {

    private final class Entries {
      val byKey = TrieMap.empty[String, (V, Set[String])]
      // per-family recency, access-ordered; each guarded by its own
      // monitor (the TrieMap gives atomic get-or-create, the
      // LinkedHashMap needs external sync).
      val recency = TrieMap.empty[String, java.util.LinkedHashMap[String, java.lang.Boolean]]
      val buildLocks = TrieMap.empty[String, AnyRef]
    }

    private val sessions = java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Entries]())

    def getOrBuild(spark: SparkSession, key: String)(
        build: => (V, Set[String])): V = {
      val e = sessions.computeIfAbsent(spark, _ => new Entries)
      val v = e.byKey.get(key).fold {
        e.buildLocks.getOrElseUpdate(key, new AnyRef).synchronized {
          e.byKey.get(key).fold {
            val built = build
            // a racing builder can only get here if this key was
            // evicted while it waited; keep the resident entry.
            e.byKey.putIfAbsent(key, built)
              .fold(built._1) { resident => evict(built._1); resident._1 }
          }(_._1)
        }
      }(_._1)
      touch(e, key)
      v
    }

    private def touch(e: Entries, key: String): Unit = {
      val lhm = e.recency.getOrElseUpdate(familyOf(key),
        new java.util.LinkedHashMap[String, java.lang.Boolean](16, 0.75f, true))
      lhm.synchronized {
        lhm.put(key, java.lang.Boolean.TRUE)
        while (lhm.size > familyCap) {
          val it = lhm.keySet.iterator
          val eldest = it.next(); it.remove()
          drop(e, eldest)
        }
      }
    }

    private def drop(e: Entries, key: String): Unit = {
      e.byKey.remove(key).foreach(x => evict(x._1))
      e.buildLocks.remove(key)
    }

    private def forget(e: Entries, key: String): Unit = {
      drop(e, key)
      e.recency.get(familyOf(key)).foreach(lhm => lhm.synchronized { lhm.remove(key) })
    }

    def remove(spark: SparkSession, key: String): Unit =
      Option(sessions.get(spark)).foreach(forget(_, key))

    def removeDerived(spark: SparkSession, stale: String => Boolean): Unit =
      Option(sessions.get(spark)).foreach { e =>
        e.byKey.foreach { case (k, (_, srcs)) =>
          if (srcs.exists(stale)) forget(e, k)
        }
      }
  }

  private val frames = new Store[DataFrame](_.unpersist(false))

  // driver-side values (e.g. the hybrid query-doc id), under the same
  // invalidation gate as the frames
  private val scalars = new Store[Any](_ => ())

  /** Get the persisted DataFrame for `key`, building + persisting it
    * (MEMORY_AND_DISK — spills instead of recomputing at scale) on
    * first use within this session. On that miss the entry's durable
    * sources are derived from the built frame's analyzed plan
    * ([[sourcesOf]]), so [[invalidateDerived]] drops it when any of
    * them is rewritten; a hit derives nothing.
    */
  def getOrPersist(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    frames.getOrBuild(spark, key) {
      val df = build.persist(StorageLevel.MEMORY_AND_DISK)
      (df, sourcesOf(df))
    }

  /** Session-memoized driver-side VALUE `f(of)` under the same
    * invalidation gate and per-family cap as the frames. `of`, the
    * one frame the value summarizes, is evaluated only on a miss; the
    * memo's sources are derived from its plan, as [[getOrPersist]]
    * derives a frame's, so a rewrite of what `of` reads drops the
    * memo and the next caller recomputes from the current source.
    */
  def memo[T](spark: SparkSession, key: String)(of: => DataFrame)(f: DataFrame => T): T =
    scalars.getOrBuild(spark, key) {
      val df = of
      (f(df), sourcesOf(df))
    }.asInstanceOf[T]

  /** Drop (and unpersist) one entry by name. No-op when absent. */
  def invalidate(spark: SparkSession, key: String): Unit = {
    frames.remove(spark, key)
    scalars.remove(spark, key)
  }

  /** Drop every session entry with a source equal to, or below, one
    * of `paths` (qualified, compared path component by path component)
    * or an artifact root this session's gates recorded as built from
    * them, transitively. The gate ([[Artifacts]]) calls this before a
    * rebuild, having recorded itself, so the result does not depend on
    * the order the session first touched the artifacts in: a cached
    * lineage of the rewritten source would feed the rebuild stale
    * frames, served forever under the fresh fingerprint.
    */
  def invalidateDerived(spark: SparkSession, paths: Seq[String]): Unit = {
    val recorded = Option(artifactUpstreams.get(spark)).fold(Map.empty[String, Seq[String]])(_.toMap)
    def widened(roots: Set[String]): Set[String] = {
      val more = recorded.collect { case (r, ups) if ups.exists(u => roots.exists(under(u, _))) => r }
      if (more.forall(roots)) roots else widened(roots ++ more)
    }
    val roots = widened(paths.map(qualified(spark, _)).toSet)
    val stale = (src: String) => roots.exists(under(src, _))
    frames.removeDerived(spark, stale)
    scalars.removeDerived(spark, stale)
  }

  /** Per session, artifact root -> its gate's upstream paths (qualified), as last recorded. */
  private val artifactUpstreams = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TrieMap[String, Seq[String]]]())

  private[sources] def recordArtifact(spark: SparkSession, root: String,
      upstreams: Seq[String]): Unit =
    artifactUpstreams.computeIfAbsent(spark, _ => TrieMap.empty)
      .put(qualified(spark, root), upstreams.map(qualified(spark, _)))

  /** The sources read by a lineage cut ([[cut]]), keyed by the RDD its
    * plan scans from then on; weak, so a dropped cut frees its entry.
    */
  private val cutSources = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], Set[String]]())

  /** How [[cut]] severs a lineage: a lazy or eager local checkpoint,
    * or a detach ([[org.apache.spark.sql.graftx.Bridge.detach]]: the
    * executed plan as a leaf RDD scan, without checkpointing it).
    */
  sealed trait Cut
  object Cut {
    case object Lazy extends Cut
    case object Eager extends Cut
    case object Detach extends Cut
  }

  /** Every lineage cut in the engine goes through here: a cut frame's
    * plan scans an RDD that names no file, so the cut records what the
    * pre-cut frame read for [[sourcesOf]] to find.
    */
  def cut(df: DataFrame, how: Cut): DataFrame = {
    val out = how match {
      case Cut.Lazy => df.localCheckpoint(false)
      case Cut.Eager => df.localCheckpoint(true)
      case Cut.Detach => org.apache.spark.sql.graftx.Bridge.detach(df)
    }
    val srcs = sourcesOf(df)
    out.queryExecution.analyzed.foreach {
      case r: LogicalRDD => cutSources.put(r.rdd, srcs)
      case _ =>
    }
    out
  }

  /** The durable sources `df` reads: the root paths of every file
    * relation in its analyzed plan (subqueries included) and the
    * recorded sources of every cut it scans. A path under an artifact
    * root stands for what that artifact was built from too; the link is
    * followed when invalidating ([[invalidateDerived]]), not here.
    */
  private def sourcesOf(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString).toSet
        case _ => Set.empty[String]
      }
      case r: LogicalRDD => Option(cutSources.get(r.rdd)).getOrElse(Set.empty[String])
    }.flatten.toSet

  private def qualified(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** `path` equals `root` or lies below it, component by component. */
  private def under(path: String, root: String): Boolean =
    path.split('/').toSeq.startsWith(root.split('/').toSeq)
}
