package graft.sources.lance

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, FSDataOutputStream,
  FileAlreadyExistsException, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

/** Test-only Hadoop filesystem under the `strictfs://` scheme with
  * object-store/HDFS-like rename semantics: rename onto an existing
  * destination FAILS instead of silently overwriting (RawLocal's
  * behavior). There is no MiniDFSCluster in this container, so this is
  * the closest offline stand-in for the non-local code paths: scheme
  * resolution through `LanceFormat.fileSystem`, Hadoop-conf plumbing to
  * executors, and the FileContext-based manifest commit.
  */
class StrictFs extends RawLocalFileSystem {
  override def getScheme: String = "strictfs"
  override def getUri: URI = URI.create("strictfs:///")

  override def rename(src: Path, dst: Path): Boolean =
    if (exists(dst)) false else super.rename(src, dst)
}

/** FileContext binding (`fs.AbstractFileSystem.strictfs.impl`). */
class StrictAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new StrictFs, conf, "strictfs", false)

/** [[StrictFs]] under a second scheme, `latefs://`, that a test registers
  * only AFTER the session has already shipped its Hadoop conf to
  * executors — so reaching it from a task proves the task saw the new
  * conf. */
class LateFs extends StrictFs {
  override def getScheme: String = "latefs"
  override def getUri: URI = URI.create("latefs:///")
}

/** FileContext binding (`fs.AbstractFileSystem.latefs.impl`). */
class LateAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new LateFs, conf, "latefs", false)

/** [[StrictFs]] under `flakyfs://`, modeling a TRANSIENT store failure:
  * while [[FlakyFs.failing]] is set, every open and every listing of a
  * path containing that substring fails outright. Like the store it
  * models, it fails the whole call and never returns partial data.
  * Registered like [[LateFs]]. */
class FlakyFs extends StrictFs {
  override def getScheme: String = "flakyfs"
  override def getUri: URI = URI.create("flakyfs:///")

  private def check(p: Path): Unit = {
    val sub = FlakyFs.failing
    if (sub != null && p.toString.contains(sub))
      throw new java.io.IOException(s"flakyfs: injected failure on $p")
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    check(f); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    check(f); super.listStatus(f)
  }
}

object FlakyFs {
  /** The failing path substring; null = a healthy store. */
  @volatile var failing: String = null
}

/** FileContext binding (`fs.AbstractFileSystem.flakyfs.impl`). */
class FlakyAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new FlakyFs, conf, "flakyfs", false)

/** [[StrictFs]] under `hookfs://`, running [[HookFs.beforeCreate]] before
  * every file create: a test injects a rival's action (say, sweeping a
  * maintenance lock entry) at the first write of a code path that starts
  * no Spark job, where a listener on job starts never fires. Registered
  * like [[LateFs]]. */
class HookFs extends StrictFs {
  override def getScheme: String = "hookfs"
  override def getUri: URI = URI.create("hookfs:///")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    HookFs.beforeCreate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object HookFs {
  /** Runs before each create; a no-op unless a test sets it. */
  @volatile var beforeCreate: Path => Unit = _ => ()
}

/** FileContext binding (`fs.AbstractFileSystem.hookfs.impl`). */
class HookAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new HookFs, conf, "hookfs", false)

/** Test-only filesystem under `s3like://` modeling the WORST object-store
  * rename semantics: rename lands even when the destination exists
  * (copy+delete with no atomic no-overwrite guarantee — the S3A shape).
  * The FileContext layer's client-side dest check is bypassed too,
  * modeling the visibility race where both committers pass the check
  * before either PUT lands. Under these semantics the rename-based
  * manifest commit silently loses a concurrent committer's manifest —
  * which is why the writer's commit protocol is strategy-switchable
  * (`graft.lance.commit.mode=create` commits via a single
  * create-no-overwrite PUT instead).
  */
class OverwritingFs extends RawLocalFileSystem {
  override def getScheme: String = "s3like"
  override def getUri: URI = URI.create("s3like:///")

  override def rename(src: Path, dst: Path): Boolean = {
    if (exists(dst)) delete(dst, false)
    super.rename(src, dst)
  }

  /** Object stores never update last-modified in place — S3A/GCS
    * implement setTimes as the FileSystem base-class no-op. Model that,
    * so an mtime "heartbeat" that relies on setTimes visibly fails here
    * (MaintenanceLock heartbeats by re-PUTting the entry instead). */
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit = ()

  /** The create-no-overwrite PUT that create-mode commits rely on is a
    * conditional write (If-None-Match), atomic on the store. RawLocal's is
    * an exists check followed by an open, so two committers racing for one
    * version could both "win" and one manifest silently replace the other.
    * Claim the path with an exclusive (O_EXCL) create first. */
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (!overwrite) {
      mkdirs(f.getParent)
      try java.nio.file.Files.createFile(pathToFile(f).toPath)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"File already exists: $f")
      }
    }
    super.create(f, true, bufferSize, replication, blockSize, progress)
  }
}

/** FileContext binding that skips the client-side dest-existence check —
  * rename "wins" even onto an existing destination. */
class OverwritingAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new OverwritingFs, conf, "s3like", false) {
  private val raw = new OverwritingFs
  raw.initialize(URI.create("s3like:///"), conf)
  override def renameInternal(src: Path, dst: Path): Unit = { raw.rename(src, dst); () }
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    raw.rename(src, dst); ()
  }
}
