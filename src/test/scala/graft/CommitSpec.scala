package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Commit

/** [[Commit.swap]] with a fault at every window, over the [[FaultyFs]]
  * scheme: whatever fails, `live` holds the whole old tree or the whole
  * new tree — or it is absent with the old tree whole at `pre` and the
  * next swap refusing, naming `pre`. Never neither. No Spark: the
  * primitive only needs a Hadoop filesystem.
  */
class CommitSpec extends AnyFunSuite {
  private val oldTree = Map("a" -> "old-a", "b" -> "old-b")
  private val newTree = Map("a" -> "new-a", "c" -> "new-c")

  private final class Site(val fs: FileSystem, val live: Path,
                           val pre: Path, val next: Path)

  /** A fresh work dir holding `tree` (if any) at `live`, seen through a
    * faulty filesystem failing what `faults` names.
    */
  private def site(tree: Option[Map[String, String]],
                   faults: (String, String)*): Site = {
    val conf = new Configuration()
    FaultyFs.register(conf)
    faults.foreach { case (k, v) => conf.set(k, v) }
    val root = java.nio.file.Files.createTempDirectory("graft-commit")
    val s = new Site(new Path(s"faulty://$root").getFileSystem(conf),
      new Path(s"faulty://$root/live"), new Path(s"faulty://$root/pre"),
      new Path(s"faulty://$root/next"))
    tree.foreach(writeTree(s.fs, s.live, _))
    s
  }

  private def writeTree(fs: FileSystem, dir: Path,
                        tree: Map[String, String]): Unit =
    tree.foreach { case (name, body) =>
      val out = fs.create(new Path(dir, name), true)
      try out.write(body.getBytes(UTF_8)) finally out.close()
    }

  private def readTree(fs: FileSystem, dir: Path): Option[Map[String, String]] =
    if (!fs.exists(dir)) None
    else Some(fs.listStatus(dir).map { st =>
      val in = fs.open(st.getPath)
      try st.getPath.getName -> new String(in.readAllBytes(), UTF_8)
      finally in.close()
    }.toMap)

  private def swapNew(s: Site, installed: => Unit = ()): Unit =
    Commit.swap(s.fs, s.live, s.pre, s.next)(writeTree(s.fs, _, newTree))(
      installed)

  /** The swap invariant; returns which of the allowed outcomes holds. */
  private def outcome(s: Site): String = readTree(s.fs, s.live) match {
    case Some(t) if t == oldTree => "old"
    case Some(t) if t == newTree => "new"
    case Some(t) => fail(s"live holds neither tree: $t")
    case None =>
      assert(readTree(s.fs, s.pre).contains(oldTree),
        "live is absent and pre does not hold the whole old tree")
      val refused = intercept[IllegalArgumentException](swapNew(s))
      assert(refused.getMessage.contains(s.pre.toString), refused.getMessage)
      "absent"
  }

  test("swap: first write and replace install the whole new tree, leaving no pre or next") {
    val fresh = site(None)
    swapNew(fresh)
    assert(outcome(fresh) == "new")
    val s = site(Some(oldTree))
    writeTree(s.fs, s.next, Map("stale" -> "leftover of a failed attempt"))
    var hookSaw = Option.empty[Map[String, String]]
    swapNew(s, { hookSaw = readTree(s.fs, s.pre) })
    assert(outcome(s) == "new")
    assert(hookSaw.contains(oldTree), "installed ran without the old tree at pre")
    assert(!s.fs.exists(s.pre) && !s.fs.exists(s.next))
  }

  test("swap: a writer that throws leaves the old tree live and next cleared") {
    val s = site(Some(oldTree))
    intercept[RuntimeException] {
      Commit.swap(s.fs, s.live, s.pre, s.next) { next =>
        writeTree(s.fs, next, newTree.take(1))
        throw new RuntimeException("writer died")
      }(())
    }
    assert(outcome(s) == "old")
    assert(!s.fs.exists(s.pre) && !s.fs.exists(s.next))
  }

  test("swap: a failed move of live aside leaves the old tree live") {
    val s = site(Some(oldTree), FaultyFs.FailRename -> "live")
    val e = intercept[RuntimeException](swapNew(s))
    assert(e.getMessage.contains(s.live.toString), e.getMessage)
    assert(outcome(s) == "old")
  }

  test("swap: a failed install leaves live absent, the old tree whole at pre, and the next swap refusing") {
    val s = site(Some(oldTree), FaultyFs.FailRename -> "next")
    val e = intercept[RuntimeException](swapNew(s))
    assert(e.getMessage.contains(s.pre.toString), e.getMessage)
    assert(outcome(s) == "absent")
  }

  test("swap: an installed hook that throws leaves the new tree live and the old one at pre") {
    val s = site(Some(oldTree))
    intercept[RuntimeException](swapNew(s, sys.error("hook died")))
    assert(outcome(s) == "new")
    assert(readTree(s.fs, s.pre).contains(oldTree))
  }

  test("swap: a failed delete of pre raises, naming it, with the new tree live") {
    val s = site(Some(oldTree), FaultyFs.FailDelete -> "pre")
    val e = intercept[RuntimeException](swapNew(s))
    assert(e.getMessage.contains(s.pre.toString), e.getMessage)
    assert(outcome(s) == "new")
    val refused = intercept[IllegalArgumentException](swapNew(s))
    assert(refused.getMessage.contains(s.pre.toString), refused.getMessage)
  }

  test("file: commits the bytes whole, and a lost rename leaves the path as it was") {
    val s = site(None)
    val p = new Path(s.live, "c0")
    assert(Commit.file(s.fs, p, "first".getBytes(UTF_8)))
    assert(readTree(s.fs, s.live).contains(Map("c0" -> "first")))
    val lost = site(None, FaultyFs.FailRename -> """\..*\.tmp""")
    val q = new Path(lost.live, "c0")
    assert(!Commit.file(lost.fs, q, "second".getBytes(UTF_8)))
    assert(!lost.fs.exists(q) && lost.fs.listStatus(lost.live).isEmpty,
      "a lost rename left a file behind")
  }
}
