package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.{FileTime, PosixFilePermissions}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Fault injection for the staged-asset protocol ([[Assets]]), each test
  * on its own private root. Every root and input the suite creates is
  * removed when it ends. */
class AssetsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val created = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private def temp(path: Path): Path = { created.add(path); path }

  private def freshRoot(): Path = temp(Files.createTempDirectory("graft_assets_spec"))

  override def afterAll(): Unit = try created.forEach { p =>
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally w.close()
  } finally super.afterAll()

  private def names(dir: Path): Set[String] = {
    val l = Files.list(dir)
    try l.iterator().asScala.map(_.getFileName.toString).toSet finally l.close()
  }

  test("a build that throws midway leaves no commit; the next call wipes and rebuilds") {
    val root = freshRoot()
    intercept[IllegalStateException] {
      Assets.stagedUnder(root, "crash", Nil, "p") { d =>
        Files.writeString(d.resolve("first"), "partial")
        throw new IllegalStateException("killed mid-build")
      }
    }
    val left = names(root).filter(_.startsWith("graft_crash_")).filterNot(_.endsWith(".lock"))
    assert(left.size == 1, names(root))
    assert(names(root.resolve(left.head)) == Set("first"), "a failed build committed")

    val dir = Assets.stagedUnder(root, "crash", Nil, "p") { d =>
      assert(names(d).isEmpty, s"the rebuild saw the crashed build's files: ${names(d)}")
      Files.writeString(d.resolve("second"), "ok")
    }
    assert(dir.getFileName.toString == left.head)
    assert(names(dir) == Set("second", Assets.Commit))
  }

  test("two threads asking for one key build it once and get the same path") {
    val root = freshRoot()
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(new Callable[Path] {
        def call(): Path = {
          start.await()
          Assets.stagedUnder(root, "race", Nil, "p") { d =>
            builds.incrementAndGet()
            Thread.sleep(300) // widen the window for the second caller
            Files.writeString(d.resolve("x"), "1")
          }
        }
      }))
      start.countDown()
      val paths = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(paths.distinct.size == 1)
      assert(names(paths.head) == Set("x", Assets.Commit))
    } finally pool.shutdown()
  }

  test("a dir without the record, or with a record naming another key, is rebuilt") {
    val root = freshRoot()
    val before = Assets.snapshot.getOrElse("forged", Assets.Stats())
    var builds = 0
    def call(): Path = Assets.stagedUnder(root, "forged", Nil, "p") { d =>
      builds += 1
      Files.writeString(d.resolve("good"), builds.toString)
    }
    val dir = call()
    Files.writeString(dir.resolve(Assets.Commit), "0123456789abcdef")
    Files.writeString(dir.resolve("stray"), "x")
    assert(call() == dir && builds == 2)
    assert(names(dir) == Set("good", Assets.Commit))
    Files.delete(dir.resolve(Assets.Commit))
    Files.writeString(dir.resolve("stray"), "x")
    assert(call() == dir && builds == 3)
    assert(names(dir) == Set("good", Assets.Commit))
    assert(Files.readString(dir.resolve("good")) == "3")
    // committed: a hit, never written again
    assert(call() == dir && builds == 3)
    val after = Assets.snapshot("forged")
    assert(after.builds - before.builds == 3 && after.hits - before.hits == 1, after)
  }

  test("the key covers each input's mtime") {
    val root = freshRoot()
    val input = temp(Files.writeString(Files.createTempFile("graft_assets_in", ".txt"), "v"))
    var builds = 0
    def call(): Path = Assets.stagedUnder(root, "mtime", Seq(input), "p") { _ => builds += 1 }
    val a = call()
    assert(call() == a && builds == 1)
    Files.setLastModifiedTime(input,
      FileTime.fromMillis(Files.getLastModifiedTime(input).toMillis + 5000L))
    val b = call()
    assert(b != a && builds == 2)
  }

  test("the root is created 0700; a root with group or other permissions throws") {
    val created = freshRoot().resolve("root")
    Assets.stagedUnder(created, "perm", Nil, "p")(_ => ())
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(created)) == "rwx------")
    Seq("rwxr-x---", "rwx---r-x", "rwx-w----").foreach { mode =>
      val root = freshRoot()
      Files.setPosixFilePermissions(root, PosixFilePermissions.fromString(mode))
      val e = intercept[IllegalStateException](
        Assets.stagedUnder(root, "perm", Nil, "p")(_ => fail("built under an open root")))
      assert(e.getMessage.contains(root.toString), e.getMessage)
    }
  }

  test("a builder in another JVM holds the key: this JVM waits and reads its commit") {
    val root = freshRoot()
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(java, "-cp", sys.props("java.class.path"),
      "graft.AssetsLockChild", root.toString).inheritIO().start()
    try {
      // the child's build has started once its marker appears
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      def building: Option[Path] = names(root).find(n => n.startsWith("graft_xjvm_") &&
        !n.endsWith(".lock")).map(root.resolve).filter(d => Files.exists(d.resolve("started")))
      while (building.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(building.nonEmpty, "the child JVM never started its build")
      assert(!Files.exists(building.get.resolve(Assets.Commit)), "the child committed too soon")
      val dir = Assets.stagedUnder(root, "xjvm", Nil, "p")(_ => fail("built while another JVM held the lock"))
      assert(Files.readString(dir.resolve("by")) == "child")
    } finally assert(child.waitFor(60, TimeUnit.SECONDS) && child.exitValue == 0)
  }
}

/** The other JVM of [[AssetsSpec]]'s cross-process test: builds asset
  * ("xjvm", "p") under the given root, slowly. */
object AssetsLockChild {
  def main(args: Array[String]): Unit = {
    Assets.stagedUnder(Paths.get(args(0)), "xjvm", Nil, "p") { d =>
      Files.writeString(d.resolve("started"), "")
      Thread.sleep(1500)
      Files.writeString(d.resolve("by"), "child")
    }
    ()
  }
}
