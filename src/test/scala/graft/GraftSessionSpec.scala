package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One session builder and one home for session-scoped state: every entry
  * point builds its session through [[GraftSession]], and per-session memos
  * live in [[GraftSession.scoped]] rather than in caches keyed on an
  * identity hash (which can collide after GC and never evict). */
class GraftSessionSpec extends AnyFunSuite {
  import GraftSessionSpec.codeMatches

  test("static scan: GraftSession is the only session builder, no identity-hash cache keys") {
    val builders = Seq("src/main/scala", "src/test/scala")
      .flatMap(r => codeMatches(r, "SparkSession\\.builder"))
      .filterNot(_ == "graft/GraftSession.scala")
    assert(builders.isEmpty, s"hand-built sessions outside GraftSession: $builders")
    val identity = codeMatches("src/main/scala", "identityHashCode")
    assert(identity.isEmpty, s"identity-hash keys in src/main: $identity")
  }

  test("scoped: computed once per session; a newSession clone computes its own entry") {
    val spark = SparkSuite.spark
    val key = s"graft-session-spec|${java.util.UUID.randomUUID()}"
    val calls = new AtomicInteger(0)
    def get(s: SparkSession): Int = GraftSession.scoped(s, key)(calls.incrementAndGet())
    assert(get(spark) == 1 && get(spark) == 1)
    val clone = spark.newSession()
    assert(get(clone) == 2 && get(clone) == 2)
    assert(get(spark) == 1)
    assert(calls.get == 2)
  }

  test("scoped: an entry does not keep its session alive") {
    val key = "graft-session-spec|weak"
    def scopedClone(): java.lang.ref.WeakReference[SparkSession] = {
      val clone = SparkSuite.spark.newSession()
      GraftSession.scoped(clone, key)(new Array[Byte](1024))
      new java.lang.ref.WeakReference(clone)
    }
    val ref = scopedClone()
    val deadline = System.nanoTime() + 10000000000L
    while (ref.get != null && System.nanoTime() < deadline) { System.gc(); Thread.sleep(50) }
    assert(ref.get == null, "a session with a scoped entry was never collected")
  }
}

object GraftSessionSpec {

  /** `root`-relative paths of the .scala files under `root` whose code
    * (line and doc comments stripped) matches `pattern`. */
  def codeMatches(root: String, pattern: String): Seq[String] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(_.toString.endsWith(".scala")).filter { p =>
      val code = Files.readAllLines(p).asScala
        .filterNot { l => val t = l.trim; t.startsWith("//") || t.startsWith("*") || t.startsWith("/*") }
        .mkString("\n")
      pattern.r.findFirstIn(code).isDefined
    }.map((p: Path) => base.relativize(p).toString.replace('\\', '/')).toSeq.sorted
  }
}
