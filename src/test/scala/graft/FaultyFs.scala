package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}

/** The local filesystem under the test-only `faulty` scheme, failing the
  * renames and deletes a test picks — the silent-failure windows of a
  * rename-swap. A rename whose SOURCE name fully matches the regex in
  * [[FaultyFs.FailRename]], and a delete whose target name fully
  * matches [[FaultyFs.FailDelete]], report failure and change nothing.
  * The regexes are read from the configuration an instance is
  * initialized with; [[FaultyFs.register]] turns the filesystem cache
  * off, so every `getFileSystem` sees the faults set at that moment.
  */
class FaultyFs extends FilterFileSystem(new RawLocalFileSystem {
      override def getUri: java.net.URI = java.net.URI.create("faulty:///")
    }) {
  private var failRename: Option[scala.util.matching.Regex] = None
  private var failDelete: Option[scala.util.matching.Regex] = None

  override def initialize(name: java.net.URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    failRename = Option(conf.get(FaultyFs.FailRename)).map(_.r)
    failDelete = Option(conf.get(FaultyFs.FailDelete)).map(_.r)
  }

  override def rename(src: Path, dst: Path): Boolean =
    !failRename.exists(_.matches(src.getName)) && super.rename(src, dst)

  override def delete(f: Path, recursive: Boolean): Boolean =
    !failDelete.exists(_.matches(f.getName)) && super.delete(f, recursive)
}

object FaultyFs {
  val FailRename = "fs.faulty.fail.rename"
  val FailDelete = "fs.faulty.fail.delete"

  /** Serve the `faulty` scheme from `conf`, uncached. */
  def register(conf: Configuration): Unit = {
    conf.set("fs.faulty.impl", classOf[FaultyFs].getName)
    conf.setBoolean("fs.faulty.impl.disable.cache", true)
  }
}
