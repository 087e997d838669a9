package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, Path, PositionedReadable, RawLocalFileSystem, Seekable}

/** Object-store-shaped test filesystem: local bytes behind a foreign
  * scheme (`slowfs://`), per-operation latency injection, and operation/
  * byte counters — the shim that lets specs exercise the ranged
  * point-read and task-committed-sink code paths under an object store's
  * access profile (scheme resolved from CONFIGURATION, not baked in;
  * every open/rename a metered remote call; reads counted so a "ranged
  * read" that secretly scans the whole shard is detectable).
  *
  * Registered only via `fs.slowfs.impl` on the session Hadoop conf — so
  * any spec that reaches it through a task-side Configuration also proves
  * the session conf actually flows to tasks
  * (`org.apache.spark.util.SerializableConfiguration`); a task that fell
  * back to classpath defaults would fail with "No FileSystem for scheme:
  * slowfs".
  */
class SlowFs extends RawLocalFileSystem {
  override def getScheme: String = "slowfs"
  override def getUri: java.net.URI = java.net.URI.create("slowfs:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    SlowFs.opens.incrementAndGet()
    SlowFs.nap()
    new FSDataInputStream(new SlowFs.CountingStream(super.open(f, bufferSize)))
  }

  override def create(
      f: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable
  ): org.apache.hadoop.fs.FSDataOutputStream = {
    SlowFs.creates.incrementAndGet()
    SlowFs.nap()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  // RawLocalFileSystem routes FileSystem.create(Path, boolean) through this
  // overload, not the permission variant — count both
  override def create(
      f: Path,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable
  ): org.apache.hadoop.fs.FSDataOutputStream = {
    SlowFs.creates.incrementAndGet()
    SlowFs.nap()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    SlowFs.renames.incrementAndGet()
    SlowFs.nap()
    super.rename(src, dst)
  }

  override def globStatus(pathPattern: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    SlowFs.lists.incrementAndGet()
    SlowFs.nap()
    super.globStatus(pathPattern)
  }
}

object SlowFs {
  val opens = new AtomicLong()
  val creates = new AtomicLong()
  val renames = new AtomicLong()
  val lists = new AtomicLong()
  val bytesRead = new AtomicLong()

  /** Per-call latency — milliseconds-scale, like an object store's RTT
    * floor (scaled down to keep specs fast; the point is that latency is
    * per OPERATION, so an access pattern with O(records) calls hurts and
    * one with O(requested members) doesn't).
    */
  def nap(): Unit = Thread.sleep(2)

  def reset(): Unit = {
    opens.set(0); creates.set(0); renames.set(0); lists.set(0); bytesRead.set(0)
  }

  private[graft] class CountingStream(in: FSDataInputStream)
      extends java.io.InputStream
      with Seekable
      with PositionedReadable {
    override def read(): Int = {
      val b = in.read()
      if (b >= 0) bytesRead.incrementAndGet()
      b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, len)
      if (n > 0) bytesRead.addAndGet(n.toLong)
      n
    }
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
    override def read(position: Long, buffer: Array[Byte], offset: Int, length: Int): Int = {
      val n = in.read(position, buffer, offset, length)
      if (n > 0) bytesRead.addAndGet(n.toLong)
      n
    }
    override def readFully(position: Long, buffer: Array[Byte], offset: Int, length: Int): Unit = {
      in.readFully(position, buffer, offset, length)
      bytesRead.addAndGet(length.toLong)
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit = {
      in.readFully(position, buffer)
      bytesRead.addAndGet(buffer.length.toLong)
    }
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }
}
