package graft

import java.io.{ByteArrayOutputStream, FileNotFoundException, IOException}
import java.net.{URI, URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** An OBJECT-STORE-SEMANTICS Hadoop filesystem for the integration suite
  * (`s3x://bucket/...`) — the closest this zero-egress container gets to
  * MinIO: no `hadoop-aws` connector ships in `/opt/spark/jars` and no
  * server binary is installable, so the S3-shaped BEHAVIOR is emulated
  * over a flat local key store while the bytes stay on disk (forked JVMs
  * share it; registered via ServiceLoader so a default `Configuration`
  * resolves the scheme).
  *
  * Faithfully S3-shaped, per the S3A connector's documented semantics:
  *  - FLAT KEY NAMESPACE: directories are virtual (`mkdirs` is a no-op,
  *    dir status is synthesized from key prefixes, listing a missing
  *    prefix throws FileNotFoundException, the bucket root always
  *    exists).
  *  - `setTimes` throws UnsupportedOperationException (S3AFileSystem
  *    does not support it) — the lease/member-ad liveness fallback must
  *    carry the plane.
  *  - PUT-at-close: a created file is invisible until `close()`, then
  *    appears atomically with its full content.
  *  - `create(overwrite=false)` WITHOUT the conditional capability is
  *    check-then-PUT: the existence check happens at open, the PUT at
  *    close REPLACES silently — the classic object-store race window the
  *    lease plane documents.
  *  - With `fs.s3x.conditional=true` the filesystem advertises the
  *    public conditional-create capability and `create(overwrite=false)`
  *    becomes a CONDITIONAL PUT: the loser throws
  *    FileAlreadyExistsException at close (S3 If-None-Match / GCS
  *    generation-match).
  *  - `rename` is copy+delete, non-atomic.
  *  - `listFiles(recursive=true)` is ONE flat prefix scan (one LIST
  *    round-trip on a real store), counted on [[ObjStoreFs.flatLists]];
  *    per-directory `listStatus` counts on [[ObjStoreFs.dirLists]] — the
  *    commit-fence cost assertions read both.
  */
class ObjStoreFs extends FileSystem {
  private var fsUri: URI = _
  private var conditional = false

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    fsUri = URI.create(
      name.getScheme + "://" + Option(name.getAuthority).getOrElse(""))
    conditional = conf.getBoolean("fs.s3x.conditional", false)
  }

  override def getScheme: String = "s3x"
  override def getUri: URI = fsUri
  override def getWorkingDirectory: Path = new Path(fsUri.toString + "/")
  override def setWorkingDirectory(dir: Path): Unit = ()

  // ------------------------------------------------------ flat key store

  private def backing: java.io.File = {
    val d = new java.io.File(ObjStoreFs.backingDir)
    d.mkdirs()
    d
  }

  /** `s3x://bucket/a/b` -> key `bucket/a/b`; the bucket root -> `bucket`. */
  private def keyOf(p: Path): String = {
    val q = p.toUri
    val auth = Option(q.getAuthority)
      .orElse(Option(fsUri.getAuthority)).getOrElse("")
    val rel = Option(q.getPath).getOrElse("").stripSuffix("/")
    if (rel.isEmpty || rel == "/") auth else auth + rel
  }

  private def pathOf(key: String): Path = new Path(s"s3x://$key")
  private def enc(key: String): String = URLEncoder.encode(key, UTF_8)

  /** Keys are stored REVERSIBLY as url-encoded text split into 200-char
    * path chunks (deep Spark-committer keys url-encode past the 255-byte
    * filename limit as one flat name). Non-final chunks are directories
    * suffixed `~` — a character URLEncoder always escapes (%7E), so a
    * chunk-dir name can never collide with a final-chunk file name and
    * the join-then-decode walk is unambiguous.
    */
  private val ChunkLen = 200
  private def fileFor(key: String): java.io.File = {
    val parts = enc(key).grouped(ChunkLen).toSeq
    val dir = parts.init.foldLeft(backing)((d, c) => new java.io.File(d, c + "~"))
    new java.io.File(dir, parts.last)
  }
  private def allKeys(): Seq[String] = {
    val base = backing.toPath
    if (!backing.exists()) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    import java.nio.file.{FileVisitResult, NoSuchFileException, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    java.nio.file.Files.walkFileTree(base, new SimpleFileVisitor[java.nio.file.Path] {
      override def visitFile(p: java.nio.file.Path, attrs: BasicFileAttributes): FileVisitResult = {
        if (attrs.isRegularFile) {
          val rel = base.relativize(p)
          val name = rel.getFileName.toString
          if (!(name.startsWith("put-") && name.endsWith(".tmp"))) {
            val joined = (0 until rel.getNameCount).map { i =>
              val s = rel.getName(i).toString
              if (s.endsWith("~")) s.dropRight(1) else s
            }.mkString
            out += URLDecoder.decode(joined, UTF_8)
          }
        }
        FileVisitResult.CONTINUE
      }
      // a key deleted while the scan runs is absent from this LIST, as on
      // a real store, where a concurrent DELETE never fails a LIST
      override def visitFileFailed(p: java.nio.file.Path, e: IOException): FileVisitResult =
        e match {
          case _: NoSuchFileException => FileVisitResult.CONTINUE
          case _ => throw e
        }
      override def postVisitDirectory(d: java.nio.file.Path, e: IOException): FileVisitResult =
        e match {
          case null | _: NoSuchFileException => FileVisitResult.CONTINUE
          case _ => throw e
        }
    })
    out.sorted.toSeq
  }

  private def isBucketRoot(key: String): Boolean = !key.contains('/')
  /** S3-style directory markers: `mkdirs` PUTs a zero-byte `key/` object
    * (like S3A), so a freshly-created empty directory LISTS as empty per
    * the FileSystem contract instead of FileNotFound.
    */
  private def isDirMarker(key: String): Boolean = key.endsWith("/")

  private def fileStatus(key: String): FileStatus = {
    val f = fileFor(key)
    new FileStatus(f.length(), false, 1, 32L * 1024 * 1024,
      f.lastModified(), pathOf(key))
  }
  private def dirStatus(key: String): FileStatus =
    new FileStatus(0L, true, 1, 32L * 1024 * 1024, 0L, pathOf(key))

  // ------------------------------------------------------------ metadata

  override def getFileStatus(p: Path): FileStatus = {
    val k = keyOf(p)
    if (fileFor(k).exists()) fileStatus(k)
    else if (isBucketRoot(k) || allKeys().exists(_.startsWith(k + "/"))) dirStatus(k)
    else throw new FileNotFoundException(s"s3x: no object or prefix at $p")
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    ObjStoreFs.dirLists.incrementAndGet()
    val k = keyOf(p)
    if (fileFor(k).exists()) return Array(fileStatus(k))
    val prefix = k + "/"
    val kids = allKeys().filter(_.startsWith(prefix))
    if (kids.isEmpty && !isBucketRoot(k))
      throw new FileNotFoundException(s"s3x: no objects under $p")
    val names = kids.map(_.stripPrefix(prefix)).filter(_.nonEmpty)
    val files = names.filter(!_.contains('/')).map(n => fileStatus(prefix + n))
    val dirs = names.filter(_.contains('/')).map(_.takeWhile(_ != '/'))
      .distinct.map(d => dirStatus(prefix + d))
    (files ++ dirs).toArray
  }

  /** ONE flat prefix scan for the whole subtree — the S3 LIST shape the
    * batched commit fence is designed around.
    */
  override def listFiles(
      p: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] = {
    if (!recursive) return super.listFiles(p, recursive)
    ObjStoreFs.flatLists.incrementAndGet()
    val k = keyOf(p)
    val prefix = k + "/"
    val out = allKeys().filter(key => key == k || key.startsWith(prefix))
      .filter(key => !isDirMarker(key) && fileFor(key).exists())
      .map(key => new LocatedFileStatus(fileStatus(key), Array.empty[BlockLocation]))
      .iterator
    new RemoteIterator[LocatedFileStatus] {
      override def hasNext: Boolean = out.hasNext
      override def next(): LocatedFileStatus = out.next()
    }
  }

  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    val k = keyOf(p)
    if (!isBucketRoot(k) && !fileFor(k + "/").exists()) {
      val marker = fileFor(k + "/").toPath
      java.nio.file.Files.createDirectories(marker.getParent)
      java.nio.file.Files.write(marker, Array.emptyByteArray)
      ()
    }
    true
  }

  override def hasPathCapability(p: Path, capability: String): Boolean =
    (conditional && capability == graft.engine.PlaneLease.CondCreateCapability) ||
      super.hasPathCapability(p, capability)

  override def setTimes(p: Path, mtime: Long, atime: Long): Unit =
    throw new UnsupportedOperationException(
      "s3x does not support setTimes (object-store semantics, like S3A)")

  // ------------------------------------------------------------------ io

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    val f = fileFor(keyOf(p))
    if (!f.exists()) throw new FileNotFoundException(p.toString)
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    new FSDataInputStream(new SeekableBytes(bytes))
  }

  override def create(
      p: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val k = keyOf(p)
    // classic object store: the exclusivity CHECK happens here, the PUT
    // at close replaces silently — the documented narrow race window.
    // With the conditional capability the PUT itself is the check (the
    // loser throws at close), so no pre-check is needed.
    if (!overwrite && !conditional && fileFor(k).exists())
      throw new FileAlreadyExistsException(s"s3x: object exists at $p")
    val buf = new ByteArrayOutputStream()
    val putAtClose = new java.io.OutputStream {
      private var closed = false
      override def write(b: Int): Unit = buf.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = buf.write(b, off, len)
      override def close(): Unit = if (!closed) {
        closed = true
        val tmp = java.io.File.createTempFile("put-", ".tmp", backing)
        java.nio.file.Files.write(tmp.toPath, buf.toByteArray)
        val dest = fileFor(k).toPath
        java.nio.file.Files.createDirectories(dest.getParent)
        if (overwrite || !conditional)
          java.nio.file.Files.move(tmp.toPath, dest,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        else
          // conditional PUT: ATOMIC put-if-absent via link(2) — exactly
          // one of N concurrent closers wins; the losers throw HERE
          // (Files.move without REPLACE_EXISTING is check-then-rename,
          // i.e. the very race this branch must not have)
          try {
            java.nio.file.Files.createLink(dest, tmp.toPath)
            java.nio.file.Files.deleteIfExists(tmp.toPath)
            ()
          } catch {
            case e: java.nio.file.FileAlreadyExistsException =>
              java.nio.file.Files.deleteIfExists(tmp.toPath)
              throw new FileAlreadyExistsException(
                s"s3x: conditional PUT lost at $p (${e.getMessage})")
          }
        ()
      }
    }
    new FSDataOutputStream(putAtClose, null)
  }

  // the FSDataOutputStreamBuilder default build() routes CREATE-without-
  // recursive through here (the conditional-create builder path in
  // PlaneLease.createExclusive); parent "directories" are virtual, so it
  // is the plain create
  override def createNonRecursive(
      p: Path, permission: FsPermission, flags: java.util.EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    create(p, permission, flags.contains(CreateFlag.OVERWRITE),
      bufferSize, replication, blockSize, progress)

  override def append(p: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("s3x does not support append")

  override def rename(src: Path, dst: Path): Boolean = {
    val sk = keyOf(src)
    val dk = keyOf(dst)
    def copyDel(from: String, to: String): Unit = {
      val bytes = java.nio.file.Files.readAllBytes(fileFor(from).toPath)
      val dest = fileFor(to).toPath
      java.nio.file.Files.createDirectories(dest.getParent)
      java.nio.file.Files.write(dest, bytes)
      fileFor(from).delete()
      ()
    }
    if (fileFor(sk).exists()) {
      // copy-then-delete, non-atomic — exactly the object-store shape
      copyDel(sk, dk)
    } else {
      val prefix = sk + "/"
      val moved = allKeys().filter(_.startsWith(prefix))
      if (moved.isEmpty) return false
      moved.foreach(key => copyDel(key, dk + "/" + key.stripPrefix(prefix)))
    }
    true
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    val k = keyOf(p)
    if (fileFor(k).exists()) fileFor(k).delete()
    else {
      val prefix = k + "/"
      val kids = allKeys().filter(_.startsWith(prefix))
      val real = kids.filterNot(_ == prefix) // the dir's own marker is not content
      if (kids.isEmpty) false
      else if (real.nonEmpty && !recursive)
        throw new IOException(s"s3x: non-empty prefix at $p")
      else { kids.foreach(fileFor(_).delete()); true }
    }
  }
}

object ObjStoreFs {
  /** Backing directory for the flat key store — one per machine by
    * default so FORKED probe JVMs share it with the parent; override via
    * the GRAFT_S3X_BACKING env var. Tests isolate by unique bucket names,
    * not by backing dirs.
    */
  def backingDir: String =
    sys.env.getOrElse("GRAFT_S3X_BACKING",
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-s3x-backing")

  /** Recursive-listFiles calls — ONE per flat prefix LIST. */
  val flatLists = new AtomicLong
  /** Per-directory listStatus calls. */
  val dirLists = new AtomicLong
}

/** In-memory FSDataInputStream body: Seekable + PositionedReadable over a
  * byte array (object GETs return full bodies here).
  */
private class SeekableBytes(bytes: Array[Byte])
    extends java.io.ByteArrayInputStream(bytes)
    with Seekable with PositionedReadable {
  override def seek(pos2: Long): Unit = {
    if (pos2 < 0 || pos2 > bytes.length) throw new IOException(s"seek $pos2 out of range")
    this.pos = pos2.toInt
  }
  override def getPos: Long = pos.toLong
  override def seekToNewSource(targetPos: Long): Boolean = false
  override def read(position: Long, buffer: Array[Byte], offset: Int, length: Int): Int = {
    if (position >= bytes.length) return -1
    val n = math.min(length, bytes.length - position.toInt)
    System.arraycopy(bytes, position.toInt, buffer, offset, n)
    n
  }
  override def readFully(position: Long, buffer: Array[Byte], offset: Int, length: Int): Unit =
    if (read(position, buffer, offset, length) < length)
      throw new java.io.EOFException("readFully past end")
  override def readFully(position: Long, buffer: Array[Byte]): Unit =
    readFully(position, buffer, 0, buffer.length)
}
