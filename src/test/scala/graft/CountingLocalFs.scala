package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** Local filesystem that counts the metadata calls an object store
  * charges a round trip for: every `listStatus` (a LIST) and every
  * `getFileStatus` or `exists` (a HEAD), split driver/executor — a
  * serial driver-side call is the scale hazard, executor-side calls
  * amortize across task threads. Pricing a phase on a store is its
  * call count × the store's RTT. Registered under the `countfs:`
  * scheme via `fs.countfs.impl`. */
class CountingLocalFs extends RawLocalFileSystem {
  import CountingLocalFs._
  override def getScheme: String = "countfs"
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    count(lists)
    // RawLocalFileSystem.listStatus stats every CHILD internally — a
    // local-FS artifact: a real object store's LIST response carries
    // the statuses, so those nested stats are not counted
    inList.set(true)
    try super.listStatus(f)
    finally inList.set(false)
  }
  override def getFileStatus(f: Path): FileStatus = {
    countStat()
    super.getFileStatus(f)
  }
  /** RawLocalFileSystem answers `exists` from java.io without going
    * through getFileStatus; a store charges it as a HEAD all the same. */
  override def exists(f: Path): Boolean = {
    countStat()
    super.exists(f)
  }
}

object CountingLocalFs {
  final class Split {
    val driver = new AtomicLong
    val executor = new AtomicLong
    def reset(): Unit = { driver.set(0L); executor.set(0L) }
    override def toString = s"driver ${driver.get} / executor ${executor.get}"
  }
  val stats = new Split
  val lists = new Split
  private val inList: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)
  private def count(s: Split): Unit =
    if (Thread.currentThread().getName.startsWith("Executor"))
      s.executor.incrementAndGet(): Unit
    else s.driver.incrementAndGet(): Unit
  private def countStat(): Unit = if (!inList.get) count(stats)
}
