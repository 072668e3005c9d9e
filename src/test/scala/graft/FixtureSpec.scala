package graft

import java.nio.file.{Files, Paths}

/** The write-once fixture protocol ([[Fixture.ensure]]), run at a `file:`
  * URI: a matching stamp skips the build, a changed stamp rebuilds into a
  * cleared directory, and a build that throws leaves no stamp behind.
  */
class FixtureSpec extends SparkSpec {

  test("Fixture.ensure: reuse on a matching stamp, clean rebuild on a new one, no stamp after a failed build") {
    val local = Files.createTempDirectory("graft-fixture").toString + "/fx"
    val fixture = s"file:$local"
    var builds = 0
    def build(marker: String): Unit = {
      builds += 1
      Files.createDirectories(Paths.get(local))
      Files.writeString(Paths.get(local, marker), marker)
    }

    assert(Fixture.ensure(spark, fixture, "v1")(build("old")) == fixture)
    assert(builds == 1)
    assert(Fixture.readStamp(spark, fixture).contains("v1"))
    assert(Files.readString(Paths.get(local, Fixture.StampFile)) == "v1",
      "the stamp holds the exact stamp bytes")

    // same stamp: the build does not run
    Fixture.ensure(spark, fixture, "v1")(build("old"))
    assert(builds == 1, "a matching stamp must not rebuild")

    // changed stamp: rebuilt, and the old build's files are gone
    Fixture.ensure(spark, fixture, "v2")(build("new"))
    assert(builds == 2)
    assert(Fixture.readStamp(spark, fixture).contains("v2"))
    assert(Files.exists(Paths.get(local, "new")))
    assert(!Files.exists(Paths.get(local, "old")), "a rebuild must not inherit stray files")

    // a build that throws leaves no stamp, so the next call rebuilds
    intercept[IllegalStateException] {
      Fixture.ensure(spark, fixture, "v3") { build("half"); throw new IllegalStateException("boom") }
    }
    assert(Fixture.readStamp(spark, fixture).isEmpty)
    Fixture.ensure(spark, fixture, "v2")(build("new"))
    assert(builds == 4, "after a failed build even the earlier stamp must rebuild")
    assert(Fixture.readStamp(spark, fixture).contains("v2"))
  }
}
