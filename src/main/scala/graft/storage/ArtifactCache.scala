package graft.storage

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Build-once cache for every fixture-derived artifact: staged stream
  * batches (`StreamingOps`), derived table layouts
  * ([[PartitionedStore.cached]], [[BucketedStore]]), trained centroids
  * and codebooks, and the fixture indexes of both index families. The
  * reference keeps its derived data in one durable store (HDFS plus
  * HAR, `HadoopHelper.java:232-286`); this is the one store here.
  *
  * Key: (family, format version, source directory, source
  * fingerprint, name), laid out as
  * `<java.io.tmpdir>/graft_<family>_v<version>_<sfDir hash>_<fingerprint>/<name>`.
  * The version sees a code change to the derived layout, the
  * fingerprint a regenerated source, the directory hash two datasets
  * that collide on size and mtime.
  *
  * Commit: `build` writes into a fresh `.build_*` sibling, which is
  * renamed into place atomically, so a reader (in this JVM or another)
  * sees a complete artifact or none. A `build` that throws leaves no
  * `.build_*` orphan. Two processes racing one cold key both build;
  * the loser's rename fails and its copy is deleted.
  *
  * Lock: the hit path is lock-free, and cold builds serialize per KEY,
  * not globally, so a cold corpus-sized build never holds up another
  * key's build or hit. A build may run a nested build of another key
  * (PQ codes need trained books, the routed sink needs the staged
  * events, the index builds need centroids and books); those nestings
  * must stay acyclic, or two threads entering the cycle from opposite
  * ends deadlock.
  *
  * Deliberately outside the cache: the markers inside an index
  * (`IndexLifecycle.ensureMarked`), which record state of a mutable
  * index rather than a build, and the per-JVM REID store. */
object ArtifactCache {

  /** The committed directory of a key. `source` is the table under
    * `sfDir` the artifact derives from (the fingerprint basis). */
  def dir(family: String, version: Int, sfDir: String, source: String,
          name: String): Path =
    Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${family}_v${version}_" + Integer.toHexString(sfDir.hashCode) +
        "_" + fingerprint(Paths.get(sfDir, source)), name)

  /** The artifact of a key: built by `build` (given the directory to
    * write, which does not exist yet) on the first call, served as is
    * after. Returns the committed directory. */
  def cached(family: String, version: Int, sfDir: String, source: String,
             name: String)(build: String => Unit): String = {
    val d = dir(family, version, sfDir, source, name)
    if (!Files.isDirectory(d))
      locks.computeIfAbsent(d.toString, _ => new Object).synchronized {
        if (!Files.isDirectory(d)) {
          val tmp = d.resolveSibling(d.getFileName.toString + ".build_" +
            java.util.UUID.randomUUID().toString.take(8))
          try {
            build(tmp.toString)
            try Files.move(tmp, d, StandardCopyOption.ATOMIC_MOVE)
            catch { // lost the race to another process: its copy is complete
              case _: java.nio.file.FileAlreadyExistsException |
                   _: java.nio.file.DirectoryNotEmptyException =>
                org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
            }
          } catch {
            case e: Throwable =>
              try org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
              catch { case _: Exception => () }
              throw e
          }
        }
      }
    d.toString
  }

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Content fingerprint of a file or a directory tree (empty when
    * absent): hash of the sorted (relative name, size, mtime) triples
    * plus the total byte size. A rewrite landing in the same
    * millisecond with identical total bytes still changes it, because
    * rewritten part files carry fresh task-UUID names. */
  def fingerprint(path: Path): String = {
    val files =
      if (Files.isDirectory(path))
        scala.util.Using.resource(Files.walk(path))(
          _.iterator().asScala.filter(Files.isRegularFile(_)).toVector)
      else if (Files.isRegularFile(path)) Vector(path)
      else Vector.empty
    val entries = files.map(p => (path.relativize(p).toString, Files.size(p),
      Files.getLastModifiedTime(p).toMillis)).sortBy(_._1)
    val h = java.util.Arrays.hashCode(
      entries.map(e => s"${e._1}|${e._2}|${e._3}".hashCode).toArray)
    Integer.toHexString(h) + "_" + java.lang.Long.toHexString(entries.map(_._2).sum)
  }
}
