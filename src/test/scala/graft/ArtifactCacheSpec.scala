package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class ArtifactCacheSpec extends AnyFunSuite {

  test("an artifact's path changes with the code stamp and only with it") {
    val src = Files.createTempDirectory("graft-artifact-src")
    Files.write(src.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    val built = ArtifactCache.path("spec-code", src, "p", "code-a")
    assert(ArtifactCache.path("spec-code", src, "p", "code-a") === built)
    assert(ArtifactCache.path("spec-code", src, "p", "code-b") !== built)
    // the public form stamps with this JVM's own code, taken once
    assert(ArtifactCache.path("spec-code", src, "p") === ArtifactCache.path("spec-code", src, "p"))
  }
}
