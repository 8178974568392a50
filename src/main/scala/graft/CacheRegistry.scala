package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one owner of shared-build lifetimes: the frames operators persist at
  * plan-construction time (the shingle inverted index, the kNN edge set,
  * the fixpoint rounds) and the session-scoped memos that hand one build to
  * several consumers (table reads, input spools, the components index).
  *
  * Every shared build has one of two lifetimes, declared where it is
  * registered (BASELINE.md's PREP boundary rule decides which):
  *  - [[Prep]]: state a deployment keeps (table reads, landing spools,
  *    stored labels, the kNN and shingle indexes); kept until
  *    [[releaseAll]], so it survives bench passes.
  *  - [[PerPass]]: graded work shared by several consumers (the components
  *    index, the PCA basis, the BPE rounds, every frame a fixpoint build
  *    registers); dropped by [[passReset]] and by [[releaseAll]], so each
  *    bench pass times one honest build.
  *
  * A canonical plan is registered once. Spark's CacheManager keys on the
  * canonical plan, so a rebuild that re-registers a plan already cached
  * gets the frame back as it is: no second `persist` and no second entry.
  * Unpersisting is keyed by canonical plan too, so a plan registered under
  * both lifetimes is tracked under the first one and released with it
  * (the eager rebuilds never do that: each plan they re-register was
  * first registered as PREP, and again as PREP).
  */
object CacheRegistry {

  sealed trait Lifetime
  /** Kept until [[releaseAll]]. */
  case object Prep extends Lifetime
  /** Cleared by [[passReset]] and by [[releaseAll]]. */
  case object PerPass extends Lifetime

  /** A session-scoped memo of one shared build per key, cleared with its
    * [[Lifetime]]. A build may call another memo (the stored labels and
    * the components index both read the shingle pairs), so lookups never
    * lock across a build; the registry assumes one driver thread builds
    * plans, as every main here does. */
  final class Memo[K, V] private[CacheRegistry] (val lifetime: Lifetime) {
    private val entries = scala.collection.concurrent.TrieMap[K, V]()
    def apply(key: K)(build: => V): V = entries.getOrElseUpdate(key, build)
    private[CacheRegistry] def clear(): Unit = entries.clear()
  }

  private val frames = scala.collection.mutable.ArrayBuffer[(DataFrame, Lifetime)]()
  private val memos = scala.collection.mutable.ArrayBuffer[Memo[_, _]]()

  /** A new memo with the given lifetime. */
  def memo[K, V](lifetime: Lifetime): Memo[K, V] = synchronized {
    val m = new Memo[K, V](lifetime)
    memos += m
    m
  }

  private def register(df: DataFrame, lifetime: Lifetime): DataFrame = synchronized {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      frames += df -> lifetime
    }
    df
  }

  /** Persist `df` (memory-and-disk) as [[Prep]] unless its plan is cached. */
  def materialize(df: DataFrame): DataFrame = register(df, Prep)

  /** Persist `df` as [[PerPass]] unless its plan is cached: for frames
    * registered during a per-pass build. Without the reset, a rebuild whose
    * plan is canonically identical across passes would be a CacheManager
    * hit, and pass 2 on would time the cached prefix instead of the build. */
  def materializeShared(df: DataFrame): DataFrame = register(df, PerPass)

  private def release(lifetimes: Set[Lifetime]): Unit = synchronized {
    val (gone, kept) = frames.partition(f => lifetimes(f._2))
    gone.foreach(_._1.unpersist(blocking = false))
    frames.clear()
    frames ++= kept
    memos.filter(m => lifetimes(m.lifetime)).foreach(_.clear())
  }

  /** Drop every [[PerPass]] frame and memo: Bench calls it before each
    * timed pass, so the next rebuild re-executes the build. */
  def passReset(): Unit = release(Set(PerPass))

  /** Unpersist every tracked frame (non-blocking) and clear every memo. */
  def releaseAll(): Unit = release(Set(Prep, PerPass))

  /** Number of currently tracked frames, both lifetimes. */
  def trackedCount: Int = synchronized(frames.size)
}
