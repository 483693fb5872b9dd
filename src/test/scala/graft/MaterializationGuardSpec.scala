package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `PlanCache` is the one materialization helper: lineage truncation
  * goes through `PlanCache.truncate` and its release through
  * `PlanCache.release`, so the policy has a single seam to change.
  */
class MaterializationGuardSpec extends AnyFunSuite {

  test("localCheckpoint appears in no main source but PlanCache.scala") {
    assert(MaterializationGuardSpec.mainSourcesContaining("localCheckpoint") ===
      List("graft/PlanCache.scala"))
  }
}

object MaterializationGuardSpec {

  /** Main Scala sources whose text contains `needle`, relative to
    * `src/main/scala` and sorted. Specs run from the repo root.
    */
  def mainSourcesContaining(needle: String): List[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    require(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .contains(needle))
      .map(p => root.relativize(p).toString)
      .toList.sorted
    finally walk.close()
  }
}
