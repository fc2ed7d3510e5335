package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The one way the engine opens the FileSystem of a table dir.
  *
  * Any scheme resolves through `FileSystem.get`, and its instance is used
  * as is, with one exception: the local filesystem (`file:`) when the conf
  * registers no `fs.file.impl` of its own. Hadoop's local filesystem,
  * without the native library, forks a `chmod` process in
  * `RawLocalFileSystem.setPermission`, and Hadoop 3.4 calls it on every
  * create and mkdirs (a create without a permission gets the default mode
  * under the umask), so each data file, manifest, `.crc` sidecar and
  * marker cost a fork. (On a classpath with Hive, `FileSystem.get` answers
  * `file:` with Hive's `ProxyLocalFileSystem` around that same local
  * filesystem.) For that case this returns a `LocalFileSystem` over a raw
  * local filesystem that sets the same mode bits through `java.nio`.
  * Checksums, `.crc` sidecars and file modes stay as Hadoop makes them. A
  * conf that registers its own `fs.file.impl` gets that class back,
  * untouched.
  *
  * The wrapper is cached the way `FileSystem.get` caches: one per instance
  * that `FileSystem.get` returns, so scheme, authority and user key it as
  * they key Hadoop's cache, and the conf that first reaches an instance
  * configures its wrapper. With `fs.file.impl.disable.cache` set, every
  * call gets a fresh wrapper, as it gets a fresh instance. One divergence:
  * `FileSystem.closeAll` does not close a wrapper, so paths registered with
  * `deleteOnExit` on it are not deleted (the engine registers none). After
  * `closeAll`, `FileSystem.get` hands out a new instance, and with it
  * comes a new wrapper.
  */
object EngineFs {

  def get(dir: String, conf: Configuration): FileSystem = {
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    if (fs.getUri.getScheme != "file" || conf.get("fs.file.impl") != null) fs
    else if (conf.getBoolean("fs.file.impl.disable.cache", false)) local(fs.getUri, conf)
    else wrappers.computeIfAbsent(fs, _ => local(fs.getUri, conf))
  }

  // by identity of Hadoop's instance; weak, so an instance dropped from
  // Hadoop's cache takes its wrapper with it
  private val wrappers = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[FileSystem, LocalFileSystem])

  private def local(uri: java.net.URI, conf: Configuration): LocalFileSystem = {
    // as FileSystem.get builds one: setConf (which reads the checksum
    // settings) and then initialize
    val fs = new LocalFileSystem(new NioRawLocalFileSystem)
    fs.setConf(conf)
    fs.initialize(uri, conf)
    fs
  }

  /** `RawLocalFileSystem` whose `setPermission` is a `chmod(2)` through
    * `java.nio` instead of a forked `chmod`. The mode is the one the fork
    * would set: the permission's twelve bits, and on a directory the
    * set-user-ID and set-group-ID bits it already has (what `chmod` with a
    * four-digit octal mode keeps). */
  private final class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      val keep =
        if (java.nio.file.Files.isDirectory(f))
          java.nio.file.Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xc00
        else 0
      java.nio.file.Files.setAttribute(f, "unix:mode",
        Integer.valueOf((permission.toShort & 0xfff) | keep))
    }
  }
}
