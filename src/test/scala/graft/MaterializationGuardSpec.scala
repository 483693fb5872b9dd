package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `PlanCache` is the one materialization helper: lineage truncation
  * goes through `PlanCache.truncate` and its release through
  * `PlanCache.release`, so the policy has a single seam to change.
  */
class MaterializationGuardSpec extends AnyFunSuite {

  test("localCheckpoint appears in no main source but PlanCache.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val walk = java.nio.file.Files.walk(root)
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .contains("localCheckpoint"))
        .map(p => root.relativize(p).toString)
        .toList.sorted
      finally walk.close()
    assert(offenders === List("graft/PlanCache.scala"))
  }
}
