package graft.sink

import java.io.IOException
import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.ChecksumOpt
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local filesystem under the `faulty:` scheme, failing one mutating
  * call on demand: once [[FaultFs.arm]]ed it counts the calls that match
  * (every `create` overload and `createNonRecursive`, `rename`, `delete`,
  * `mkdirs`) and throws an `IOException` from the k-th, before it acts.
  * An overload that delegates to another counts once. State is static,
  * so Spark tasks (local mode: same JVM) see the same fault. */
class FaultFs extends RawLocalFileSystem {

  override def getUri: URI = FaultFs.Root
  override def getScheme: String = FaultFs.Scheme

  private def mutate[T](op: String, p: Path)(body: => T): T =
    if (FaultFs.inside.get) body
    else {
      FaultFs.inside.set(true)
      try { FaultFs.hit(op, p); body } finally FaultFs.inside.set(false)
    }

  override def create(f: Path): FSDataOutputStream = mutate("create", f)(super.create(f))
  override def create(f: Path, overwrite: Boolean): FSDataOutputStream =
    mutate("create", f)(super.create(f, overwrite))
  override def create(f: Path, progress: Progressable): FSDataOutputStream =
    mutate("create", f)(super.create(f, progress))
  override def create(f: Path, replication: Short): FSDataOutputStream =
    mutate("create", f)(super.create(f, replication))
  override def create(f: Path, replication: Short, progress: Progressable): FSDataOutputStream =
    mutate("create", f)(super.create(f, replication, progress))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int): FSDataOutputStream =
    mutate("create", f)(super.create(f, overwrite, bufferSize))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      progress: Progressable): FSDataOutputStream =
    mutate("create", f)(super.create(f, overwrite, bufferSize, progress))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long): FSDataOutputStream =
    mutate("create", f)(super.create(f, overwrite, bufferSize, replication, blockSize))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutate("create", f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    mutate("create", f)(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def create(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    mutate("create", f)(super.create(f, permission, flags, bufferSize, replication,
      blockSize, progress))
  override def create(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable, checksumOpt: ChecksumOpt): FSDataOutputStream =
    mutate("create", f)(super.create(f, permission, flags, bufferSize, replication,
      blockSize, progress, checksumOpt))
  override def createNonRecursive(f: Path, overwrite: Boolean, bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    mutate("create", f)(super.createNonRecursive(f, overwrite, bufferSize, replication,
      blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    mutate("create", f)(super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    mutate("create", f)(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = mutate("rename", src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    mutate("delete", f)(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = mutate("mkdirs", f)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    mutate("mkdirs", f)(super.mkdirs(f, permission))
}

object FaultFs {
  val Scheme = "faulty"
  private val Root = URI.create(s"$Scheme:///")

  private val inside = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private val armed = new java.util.concurrent.ConcurrentLinkedQueue[Fault]()

  /** One armed fault: counts the calls `matches(op, path)` accepts and
    * fails the k-th (once; later calls pass). Faults whose matchers
    * select disjoint paths can be armed at once. */
  final class Fault private[FaultFs] (k: Int, matches: (String, Path) => Boolean) {
    private val seen = new AtomicInteger

    private[FaultFs] def hit(op: String, p: Path): Unit =
      if (matches(op, p) && seen.incrementAndGet() == k)
        throw new IOException(s"injected fault: $op $p (matching call $k)")

    /** Stop counting; the number of matching calls seen. */
    def disarm(): Int = { armed.remove(this); seen.get }
  }

  /** Map the scheme to this class in the session's Hadoop configuration. */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[FaultFs].getName)

  /** `dir` (a local path) under the faulty scheme. */
  def path(dir: String): String = s"$Scheme://$dir"

  def arm(k: Int, matches: (String, Path) => Boolean = (_, _) => true): Fault = {
    val f = new Fault(k, matches)
    armed.add(f)
    f
  }

  private def hit(op: String, p: Path): Unit = armed.forEach(_.hit(op, p))
}
