package graft.operators

import org.apache.spark.sql.SparkSession

/** The lock and version primitives [[LogTable]] builds on: where a
  * table's commit log lives, which version is current, and the
  * exclusive table lock that LogTable's locked operations (checkpoint,
  * partition replace/remove, whole-table compaction, restore, vacuum)
  * hold. LogTable itself writes and reads the commit files; nothing
  * here commits.
  *
  *  1. **Commit log location and version** — commits are
  *     `<root>/_graft_log/_v%08d.json` (leading underscore: Spark's
  *     file index treats the directory as hidden). [[currentVersion]]
  *     is the highest committed version, 0 before the first commit.
  *  2. **Exclusive table lock** — [[withLock]] runs a body under (a) a
  *     JVM-level lock per normalized root, so same-process writers
  *     serialize without touching the file system, and (b) an on-disk
  *     lock file created with `FileSystem.create(overwrite = false)`
  *     (atomic create-if-absent on HDFS and the local file system), so
  *     writers in other processes serialize too. A writer that dies
  *     while holding the lock leaves a file whose age exceeds
  *     `staleLockMs`; the next acquirer breaks it. A LIVE holder
  *     heartbeats the lock's mtime every staleLockMs/4, so a slow body
  *     is never mistaken for a dead one. Object stores without atomic
  *     create (e.g. S3) need a coordination service here — the caveat
  *     Delta's LogStore documents; HDFS-compatible stores work as-is.
  *  3. **A commit-race seam for tests** — [[dmlCommitHook]].
  */
object TableLog {

  private val LogDirName = "_graft_log"
  private val LockName = "_lock"

  /** Test seam (r15 directive #2): invoked with the action name right
    * before a lock-free DML op's commit, so specs can interleave a
    * COMPETING commit into the exact race window deterministically
    * (the window is otherwise sub-millisecond and thread-timing
    * flaky). No-op in production. */
  @volatile private[graft] var dmlCommitHook: String => Unit = _ => ()

  /** Same-process serialization: one lock object per normalized root. */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.locks.ReentrantLock]()

  private[operators] def fsFor(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[operators] def logDir(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, LogDirName)

  /** Acquire the on-disk lock: atomic create-if-absent, spinning up to
    * `waitMs` (100 ms backoff), breaking locks older than `staleLockMs`.
    */
  private def acquireFsLock(fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path,
                            owner: String, waitMs: Long,
                            staleLockMs: Long): org.apache.hadoop.fs.Path = {
    val lockP = new org.apache.hadoop.fs.Path(logDir(root), LockName)
    fs.mkdirs(logDir(root))
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    while (!acquired) {
      try {
        val out = fs.create(lockP, false)
        out.write(s"""{"owner":${graft.JsonUtil.jstr(owner)},"ts":${
          System.currentTimeMillis()}}""".getBytes("UTF-8"))
        out.close()
        acquired = true
      } catch {
        case _: java.io.IOException =>
          val staleMtime = try {
            fs.getFileStatus(lockP).getModificationTime
          } catch { case _: java.io.FileNotFoundException => -1L }
          val age = if (staleMtime < 0) -1L
            else System.currentTimeMillis() - staleMtime
          if (age > staleLockMs) {
            // dead holder: LogTable's locked operations publish through
            // one atomic commit-file create (vacuum only deletes files no
            // retained version references), so a holder that died left
            // no half-made commit and breaking the lock is safe — but
            // break carefully. The naive
            // delete-and-re-race let two waiters who BOTH observed the
            // stale lock each delete: waiter B (acting on its earlier
            // stat) could remove waiter A's freshly created lock and both
            // would hold "exclusive" access. Two defenses (ADVICE r11):
            // (1) re-stat immediately before breaking and only proceed if
            // the mtime is UNCHANGED from the stale observation (a changed
            // mtime means someone already broke + re-acquired);
            // (2) break by atomic RENAME to a unique tombstone — exactly
            // one breaker wins the rename, the loser's next create() races
            // cleanly against the winner's.
            val unchanged = try {
              fs.getFileStatus(lockP).getModificationTime == staleMtime
            } catch { case _: java.io.FileNotFoundException => false }
            if (unchanged) {
              val tomb = new org.apache.hadoop.fs.Path(logDir(root),
                s"$LockName.broken.${java.util.UUID.randomUUID()}")
              if (fs.rename(lockP, tomb)) fs.delete(tomb, false)
            }
          } else if (System.currentTimeMillis() > deadline) {
            sys.error(s"TableLog: could not acquire $lockP within " +
              s"${waitMs}ms (held by a live writer)")
          } else Thread.sleep(100)
      }
    }
    lockP
  }

  /** Current committed version (0 = no commits yet). */
  def currentVersion(spark: SparkSession, tableRoot: String): Long = {
    val (fs, root) = fsFor(spark, tableRoot)
    val ld = logDir(root)
    if (!fs.exists(ld)) 0L
    else fs.listStatus(ld).map(_.getPath.getName)
      .filter(n => n.startsWith("_v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("_v").stripSuffix(".json").toLong)
      .foldLeft(0L)(math.max)
  }

  /** List (file, length) of the live data files of one partition dir. */
  private[operators] def liveFiles(fs: org.apache.hadoop.fs.FileSystem,
                        part: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
    if (!fs.exists(part)) Seq.empty
    else fs.listStatus(part).filter(_.isFile).map(_.getPath)
      .collect { case p
        if !p.getName.startsWith("_") && !p.getName.startsWith(".") =>
          (p.getName, fs.getFileStatus(p).getLen) }
      .sortBy(_._1).toSeq

  /** Run `body` under the table's exclusive lock: the JVM lock for
    * `tableRoot`, then the on-disk lock file (heartbeat while held,
    * stale-lock break after `staleLockMs`), both released when `body`
    * returns or throws. Waits up to `waitMs` for a live holder. Commits
    * nothing: [[LogTable]]'s locked operations write their own commit
    * inside `body`.
    */
  private[graft] def withLock[T](spark: SparkSession, tableRoot: String,
                                 action: String,
                                 waitMs: Long = 300000L,
                                 staleLockMs: Long = 600000L)
                                (body: => T): T = {
    val (fs, root) = fsFor(spark, tableRoot)
    val key = fs.makeQualified(root).toString
    val jl = jvmLocks.computeIfAbsent(key,
      _ => new java.util.concurrent.locks.ReentrantLock())
    jl.lock()
    try {
      val lockP = acquireFsLock(fs, root, action, waitMs, staleLockMs)
      // heartbeat: a LIVE holder whose mutation outlasts staleLockMs must
      // not look dead — refresh the lock's mtime at staleLockMs/4 so only
      // a truly crashed writer's lock ever ages past the break threshold
      val hb = new Thread(() => {
        try {
          while (!Thread.currentThread().isInterrupted) {
            Thread.sleep(math.max(1000L, staleLockMs / 4))
            fs.setTimes(lockP, System.currentTimeMillis(), -1)
          }
        } catch {
          case _: InterruptedException => ()
          case _: java.io.IOException => () // lock already released
        }
      }, s"graft-tablelog-heartbeat-$action")
      hb.setDaemon(true)
      hb.start()
      try body
      finally {
        hb.interrupt()
        fs.delete(lockP, false)
      }
    } finally jl.unlock()
  }
}
