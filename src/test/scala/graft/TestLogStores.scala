package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** A [[graft.sources.GraftLogStore]] for the pluggability spec: an
  * in-memory putIfAbsent registry supplies the mutual exclusion — the
  * conditional-PUT shape an object-store deployment would configure —
  * so the spec can prove the commit guard refuses a double-commit
  * even if the underlying filesystem's create were NOT atomic (the
  * registry, not create-exclusive, decides the winner here). */
class ConditionalPutLogStore extends graft.sources.HdfsLogStore {
  override def createAtomic(fs: FileSystem, target: Path,
      content: Array[Byte]): Boolean = {
    ConditionalPutLogStore.calls.incrementAndGet()
    // the conditional half: at most one caller claims a given name,
    // everyone else is told they lost — BEFORE any byte is written
    if (ConditionalPutLogStore.claimed
        .putIfAbsent(target.toString, java.lang.Boolean.TRUE) != null)
      return false
    super.createAtomic(fs, target, content)
  }
}

object ConditionalPutLogStore {
  val calls = new java.util.concurrent.atomic.AtomicInteger
  val claimed =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
}

/** A store that makes a commit lose its version slot on purpose: a
  * racer registered for a table path runs once, right before the next
  * createAtomic on that path, so the commit that triggered it always
  * finds its slot taken by the racer's commit. The registration is
  * removed before the racer runs, so the racer's own commits pass
  * straight through (the re-entrancy guard). */
class RacingLogStore extends graft.sources.HdfsLogStore {
  override def createAtomic(fs: FileSystem, target: Path,
      content: Array[Byte]): Boolean = {
    // target = <table>/_graft_log/v<N>.manifest
    val table = target.getParent.getParent.toUri.getPath
    Option(RacingLogStore.racers.remove(table)).foreach(_.apply())
    super.createAtomic(fs, target, content)
  }
}

object RacingLogStore {
  val racers =
    new java.util.concurrent.ConcurrentHashMap[String, () => Unit]()

  /** Run `racer` once, before the next manifest commit on `path`. */
  def raceNext(path: String)(racer: => Unit): Unit =
    racers.put(new Path(path).toUri.getPath, () => racer)

  def pending(path: String): Boolean =
    racers.containsKey(new Path(path).toUri.getPath)
}

/** A store under which every commit loses its slot and nothing is
  * ever written: the commit loop's give-up path. */
class LosingLogStore extends graft.sources.GraftLogStore {
  override def createAtomic(fs: FileSystem, target: Path,
      content: Array[Byte]): Boolean = {
    LosingLogStore.calls.incrementAndGet()
    false
  }
}

object LosingLogStore {
  val calls = new java.util.concurrent.atomic.AtomicInteger
}

/** Local filesystem on scheme `countfs` that counts how often the
  * table layer opens a version manifest and lists the log directory —
  * the I/O a verb's log reads cost on an object store, where each is a
  * round trip. Register with `fs.countfs.impl` and cache disabled. */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")

  override def open(f: Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName.endsWith(".manifest")) CountingFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    if (f.getName == "_graft_log") CountingFs.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingFs {
  val opens = new java.util.concurrent.atomic.AtomicInteger
  val listings = new java.util.concurrent.atomic.AtomicInteger

  /** (manifest opens, log listings) made while `body` runs. */
  def count(body: => Any): (Int, Int) = {
    opens.set(0)
    listings.set(0)
    body
    (opens.get, listings.get)
  }
}
