package graft.io

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The engine's one memo: everything a session computes once and reuses
  * across queries — resolved parquet relations, trained models and
  * codebooks, on-disk index stores, plan-shape preflight decisions.
  *
  * Entries are held per [[SparkSession]] (weakly, and dropped once the
  * session's context stops) and every hit is VALIDATED against the inputs
  * it was computed from, so a rewritten input is recomputed instead of
  * served stale:
  *
  *  - [[files]] entries are keyed by a path and stamped with a
  *    fingerprint of the files under it (relative path, length, mtime —
  *    one Hadoop `listFiles`);
  *  - [[plan]] entries are keyed by the canonicalized logical plan (so
  *    two frames with the same semantics share one entry — hash-map
  *    equality IS structural plan equality) and stamped with the
  *    fingerprint of the plan's file-relation root paths, because Spark's
  *    relation equality compares root paths, not the files under them.
  *
  * A stale entry is replaced in place (one entry per key). Computation
  * runs OUTSIDE the map's locks in a per-key holder: a compute may call
  * the memo again (a store build resolves its source table through
  * [[Sources.table]]) and concurrent callers of the same key wait for the
  * one compute instead of repeating it. A failed compute leaves nothing
  * behind, so the next call retries.
  */
object Memo {

  /** Per-key holder: computes at most once per successful attempt. */
  private final class Cell(val stamp: Any, compute: () => Any) {
    @volatile private var result: Option[Any] = None
    def done: Option[Any] = result
    def get: Any = result.getOrElse(synchronized {
      result.getOrElse { val v = compute(); result = Some(v); v }
    })
  }

  private type Entries = ConcurrentHashMap[Any, Cell]

  private val sessions = new java.util.WeakHashMap[SparkSession, Entries]

  /** A session's entries are dropped once it can never run again; the
    * weak key alone would not free them, since memoized frames hold
    * their session.
    */
  private def entries(spark: SparkSession): Entries = sessions.synchronized {
    sessions.keySet.removeIf(_.sparkContext.isStopped)
    sessions.computeIfAbsent(spark, _ => new Entries())
  }

  /** Bound on one session's entries; past it the memo starts over
    * (results never depend on a hit, only driver time does).
    */
  private val MaxEntries = 1024

  private def lookup[V](spark: SparkSession, key: Any, stamp: Any)(
      compute: => V): V = {
    val m = entries(spark)
    if (m.size > MaxEntries) m.clear()
    val fresh = new Cell(stamp, () => compute)
    @annotation.tailrec def claim(): Cell = m.putIfAbsent(key, fresh) match {
      case null => fresh
      case c if c.stamp == stamp => c
      case stale => if (m.replace(key, stale, fresh)) fresh else claim()
    }
    val cell = claim()
    try cell.get.asInstanceOf[V]
    catch { case e: Throwable => m.remove(key, cell); throw e }
  }

  /** Memoize `compute` on `path`, valid while the files under it are
    * unchanged.
    */
  def files[V](spark: SparkSession, tag: String, path: String)(
      compute: => V): V =
    lookup(spark, (tag, path), fingerprint(spark, Seq(path)))(compute)

  /** Memoize `compute` on `df`'s canonical plan, valid while the files
    * under the plan's parquet/file relations are unchanged.
    */
  def plan[V](df: DataFrame, tag: String)(compute: => V): V = {
    // analyzed, not logical: a bare read's logical plan is an unresolved
    // source node with no file index to fingerprint
    val p = df.queryExecution.analyzed.canonicalized
    val roots = p.collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location.rootPaths }
      .flatten.map(_.toString)
    lookup(df.sparkSession, (tag, p), fingerprint(df.sparkSession, roots))(compute)
  }

  /** A derived on-disk store of `df` (an index, a signature table): a
    * fresh directory under [[tempDir]] that `write` fills, built once per
    * [[plan]] entry. Returns the directory.
    */
  def store(df: DataFrame, tag: String)(write: String => Unit): String =
    plan(df, tag) {
      val d = java.nio.file.Files.createTempDirectory(tempDir, s"$tag-").toString
      write(d)
      d
    }

  /** The computed values of one tag's entries in this session. */
  def values[V](spark: SparkSession, tag: String): Seq[V] =
    entries(spark).asScala.toSeq.collect {
      case ((`tag`, _), c) if c.done.isDefined => c.done.get.asInstanceOf[V]
    }

  /** Drop every entry of this session (store directories stay until exit). */
  def clear(spark: SparkSession): Unit = entries(spark).clear()

  /** Root of every [[store]] directory, removed by the JVM's exit hook
    * (the OS does not clean java.io.tmpdir).
    */
  lazy val tempDir: java.nio.file.Path = {
    import java.nio.file.{Files, Path => JPath}
    val root = Files.createTempDirectory("graft-memo-")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        val s = Files.walk(root)
        try s.sorted(java.util.Comparator.reverseOrder[JPath]())
          .forEach(f => Files.deleteIfExists(f))
        finally s.close()
      } catch { case scala.util.control.NonFatal(_) => () },
      "graft-memo-cleanup"))
    root
  }

  /** (relative path, length, mtime) of every file under each path; a
    * missing path fingerprints as empty (the compute then raises the
    * reader's own error).
    */
  private def fingerprint(spark: SparkSession,
                          paths: Seq[String]): Seq[Seq[(String, Long, Long)]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.map { p =>
      val path = new Path(p)
      try {
        val fs = path.getFileSystem(conf)
        val root = fs.makeQualified(path).toUri.getPath
        val it = fs.listFiles(path, true)
        val b = Seq.newBuilder[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          b += ((f.getPath.toUri.getPath.stripPrefix(root), f.getLen,
            f.getModificationTime))
        }
        b.result().sorted
      } catch { case _: java.io.FileNotFoundException => Nil }
    }
  }
}
