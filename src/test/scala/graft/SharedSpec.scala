package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** [[Shared]]: keying, nesting, failed builds and build-time rows. Each
  * test uses its own names — the registry is process-wide.
  */
class SharedSpec extends AnyFunSuite {

  private def newDir(): File = {
    val d = Files.createTempDirectory("graft_sharedspec").toFile
    SparkSpec.cleanupAtExit(d)
    d
  }

  private def rows(name: String): Seq[(String, Double)] =
    BuildTimes.drain().filter(_._1 == name)

  test("two spellings of one sf dir build once and share one scratch dir") {
    val d = newDir()
    var builds = 0
    val a = Shared.relation("spec_spellings", d.getPath) { _ => builds += 1 }
    val b = Shared.relation("spec_spellings",
      s"${d.getPath}/../${d.getName}/.") { _ => builds += 1 }
    assert(builds == 1)
    assert(a == b)
    Shared.once("spec_spellings_check", d.getPath) { builds += 1 }
    Shared.once("spec_spellings_check", s"${d.getPath}/") { builds += 1 }
    assert(builds == 2)
  }

  test("a relation build that nests a relation and a once check completes") {
    val d = newDir().getPath
    var checks = 0
    val out = Shared.relation("spec_nested", d) { _ =>
      Shared.relation("spec_nested_inner", d) { _ =>
        Shared.once("spec_nested_check", d) { checks += 1 }
      }
      Shared.once("spec_nested_check", d) { checks += 1 }
    }
    Shared.once("spec_nested_check", d) { checks += 1 }
    assert(checks == 1)
    assert(new File(out).isDirectory)
  }

  test("a build that throws is neither marked built nor recorded, and the " +
    "retry starts from an empty dir") {
    val d = newDir().getPath
    BuildTimes.drain()
    // the streaming builds write append-mode dirs: a retry into the
    // half-written dir would double their rows
    val e = intercept[IllegalStateException] {
      Shared.relation("spec_retry", d) { out =>
        Files.createDirectories(Paths.get(out, "in"))
        Files.writeString(Paths.get(out, "in", "part-0"), "half")
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(rows("spec_retry").isEmpty)
    var seen: Seq[String] = null
    var builds = 0
    val out = Shared.relation("spec_retry", d) { out =>
      builds += 1
      seen = new File(out).list().toSeq
      Files.writeString(Paths.get(out, "part-0"), "whole")
    }
    assert(builds == 1)
    assert(seen.isEmpty, s"retry saw $seen")
    assert(rows("spec_retry").size == 1)
    Shared.relation("spec_retry", d) { _ => builds += 1 }
    assert(builds == 1)
    assert(new File(out).list().toSeq == Seq("part-0"))
  }

  test("exactly one BuildTimes row per real build") {
    val (d1, d2) = (newDir().getPath, newDir().getPath)
    BuildTimes.drain()
    for (d <- Seq(d1, d1, d2, d2, d1)) Shared.relation("spec_timed", d) { _ => }
    Shared.once("spec_timed_check", d1) {}
    val got = BuildTimes.drain()
    assert(got.count(_._1 == "spec_timed") == 2)
    assert(got.forall(r => r._1 != "spec_timed_check"))
    assert(got.filter(_._1 == "spec_timed").forall(_._2 >= 0.0))
  }
}
