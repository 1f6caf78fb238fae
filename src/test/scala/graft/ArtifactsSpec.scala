package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** Pins the memo's key and lifetime rule: one build per (application,
  * dir, name), nested lookups from inside a build, and a new
  * application dropping the previous one's entries. Application ids are
  * passed explicitly so no Spark session is started or stopped here.
  */
class ArtifactsSpec extends AnyFunSuite {

  private def counting(builds: AtomicInteger): AnyRef = {
    builds.incrementAndGet()
    new Object
  }

  test("build runs once per (application, dir, name) and returns the same instance") {
    val builds = new AtomicInteger
    val a = Artifacts.get("spec-app-1", "/d", "Spec.once")(counting(builds))
    val b = Artifacts.get("spec-app-1", "/d", "Spec.once")(counting(builds))
    assert(a eq b)
    assert(builds.get == 1)
  }

  test("a different dir or a different name builds its own entry") {
    val builds = new AtomicInteger
    val base = Artifacts.get("spec-app-1", "/d", "Spec.keys")(counting(builds))
    val otherDir = Artifacts.get("spec-app-1", "/e", "Spec.keys")(counting(builds))
    val otherName = Artifacts.get("spec-app-1", "/d", "Spec.keys2")(counting(builds))
    assert(builds.get == 3)
    assert(!(base eq otherDir) && !(base eq otherName) && !(otherDir eq otherName))
    assert(Artifacts.get("spec-app-1", "/e", "Spec.keys")(counting(builds)) eq otherDir)
    assert(builds.get == 3)
  }

  test("a build may look up another artifact") {
    val builds = new AtomicInteger
    val outer = Artifacts.get("spec-app-1", "/d", "Spec.outer") {
      val inner = Artifacts.get("spec-app-1", "/d", "Spec.inner")(counting(builds))
      (inner, counting(builds))
    }
    assert(builds.get == 2)
    assert(Artifacts.get("spec-app-1", "/d", "Spec.inner")(counting(builds)) eq outer._1)
    assert(Artifacts.get("spec-app-1", "/d", "Spec.outer")(counting(builds)) eq outer)
    assert(builds.get == 2)
  }

  test("a lookup under a different application drops the old entries and rebuilds") {
    val builds = new AtomicInteger
    val first = Artifacts.get("spec-app-1", "/d", "Spec.life")(counting(builds))
    val second = Artifacts.get("spec-app-2", "/d", "Spec.life")(counting(builds))
    assert(builds.get == 2)
    assert(!(first eq second))
    // spec-app-1's entry went with the switch: returning to it rebuilds
    val third = Artifacts.get("spec-app-1", "/d", "Spec.life")(counting(builds))
    assert(builds.get == 3)
    assert(!(third eq first))
  }
}
