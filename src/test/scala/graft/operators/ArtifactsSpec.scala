package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.core.Pin
import scala.jdk.CollectionConverters._

/** The declared shared-artifact list and its walk: every artifact is
  * built once per session, a re-walk is a pure memo hit, and the walk's
  * failure handling and conf check hold on fake declarations.
  */
class ArtifactsSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  /** A fresh session (fresh pin memo and k-means fit) whose pin and
    * layout roots live in a temp dir.
    */
  private lazy val (session, pinRoot, layoutRoot) = {
    val root = tmpDir("artifacts-spec")
    val s = spark.newSession()
    s.conf.set(Pin.RootConfKey, s"$root/pins")
    s.conf.set(StorageOps.RootConfKey, s"$root/layout")
    (s, Paths.get(s"$root/pins"), Paths.get(s"$root/layout"))
  }
  private lazy val firstWalk = Artifacts.walk(session, sfDir)

  /** (path, size, mtime) of every regular file under `root`. */
  private def files(root: Path): Set[(String, Long, Long)] =
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
        (root.relativize(p).toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)).toSet
      finally s.close()
    }

  private def art(name: String, reads: String*)(body: => Unit) =
    Artifacts.Artifact(name, reads, (_, _) => body)

  test("a walk reports every declared artifact once, each built") {
    val names = Artifacts.All.map(_.name)
    assert(names.distinct == names)
    assert(firstWalk.map(_._1) == names)
    val notBuilt = firstWalk.filterNot(_._2.isInstanceOf[Artifacts.Built])
    assert(notBuilt.isEmpty, notBuilt.mkString("; "))
    assert(files(pinRoot).nonEmpty && files(layoutRoot).nonEmpty)
  }

  test("a second walk writes no file under either root; every pin is built") {
    firstWalk
    val before = (files(pinRoot), files(layoutRoot))
    val again = Artifacts.walk(session, sfDir)
    assert(again.forall(_._2.isInstanceOf[Artifacts.Built]), again.mkString("; "))
    assert((files(pinRoot), files(layoutRoot)) == before)
    val t = Pin.tag(sfDir)
    val pins = Seq(s"mhbands-$t", s"evshingles-$t", s"pairs-$t", s"kmeans-cents-$t",
      s"pq-cents-$t", s"pq-codes-$t", s"pq-lut-$t", s"pq-codes-norm-m8-k16-$t",
      s"int8-store-$t", s"ivf-cents-$t", s"grams5-$t", s"evgrams5-$t",
      s"textrank-$t-edges", s"srcshingles-$t", s"dsir-features-$t")
    assert(pins.filterNot(Pin.isBuilt(session, _)).isEmpty)
  }

  test("a builder that sets a conf key fails the walk, naming the key") {
    val s = spark.newSession()
    val e = intercept[IllegalStateException](Artifacts.walk(s, sfDir,
      Seq(art("ok")(()), art("leaky")(s.conf.set("spark.graft.spec.leaked", "1")))))
    assert(e.getMessage.contains("spark.graft.spec.leaked"))
  }

  test("a failing builder's dependents are skipped and named; the rest build") {
    val boom = new IllegalStateException("boom")
    val ran = new AtomicInteger(0)
    val out = Artifacts.walk(spark, sfDir, Seq(
      art("a")(throw boom),
      art("b", "a")(ran.incrementAndGet()),
      art("c", "b")(ran.incrementAndGet()),
      art("d")(()),
      art("e", "d", "c")(ran.incrementAndGet()))).toMap
    assert(out("a") == Artifacts.Failed(boom))
    assert(out("b") == Artifacts.Skipped(Seq("a")))
    assert(out("c") == Artifacts.Skipped(Seq("b")))
    assert(out("d").isInstanceOf[Artifacts.Built])
    assert(out("e") == Artifacts.Skipped(Seq("c")))
    assert(ran.get == 0)
  }

  test("an artifact starts only after what it reads is built; at most four run at once") {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val live = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    def step(n: String): Unit = {
      peak.accumulateAndGet(live.incrementAndGet(), math.max)
      log.add(s"start $n"); Thread.sleep(20); log.add(s"end $n")
      live.decrementAndGet(); ()
    }
    val roots = (1 to 6).map(i => art(s"r$i")(step(s"r$i")))
    val out = Artifacts.walk(spark, sfDir,
      roots ++ Seq(art("x", "r1", "r6")(step("x")), art("y", "x")(step("y"))))
    assert(out.forall(_._2.isInstanceOf[Artifacts.Built]))
    val order = log.asScala.toSeq
    def at(ev: String) = order.indexOf(ev)
    assert(at("start x") > at("end r1") && at("start x") > at("end r6"))
    assert(at("start y") > at("end x"))
    assert(peak.get <= 4)
  }

  test("builds on one lock never overlap; others run beside them") {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val lock = new Object
    def step(n: String): Unit = { log.add(s"start $n"); Thread.sleep(20); log.add(s"end $n"); () }
    def locked(n: String) = art(n)(step(n)).copy(lock = Some(lock))
    val out = Artifacts.walk(spark, sfDir,
      Seq(locked("l1"), locked("l2"), locked("l3"), art("free")(step("free"))))
    assert(out.forall(_._2.isInstanceOf[Artifacts.Built]))
    val order = log.asScala.toSeq
    def at(ev: String) = order.indexOf(ev)
    assert(at("start l2") > at("end l1") && at("start l3") > at("end l2"))
    // the free build took a pool slot while l1 held the lock
    assert(at("start free") < at("end l1"))
  }

  test("a malformed declaration is refused before anything builds") {
    val ran = new AtomicInteger(0)
    intercept[IllegalArgumentException](Artifacts.walk(spark, sfDir,
      Seq(art("a")(ran.incrementAndGet()), art("a")(ran.incrementAndGet()))))
    intercept[IllegalArgumentException](Artifacts.walk(spark, sfDir,
      Seq(art("b", "a")(ran.incrementAndGet()), art("a")(ran.incrementAndGet()))))
    assert(ran.get == 0)
  }
}
