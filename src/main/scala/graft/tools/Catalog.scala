package graft.tools

/** Prints the oracle-gated query catalog as markdown (one table per
  * defining module) — the README "Operator catalog" section is generated
  * by this main, so docs and code cannot drift.
  *
  * Usage: runMain graft.tools.Catalog
  */
object Catalog {
  def families: Seq[(String, Seq[graft.QueryDef])] = graft.SparkEntry.modules

  def markdown: String = {
    val sb = new StringBuilder
    families.foreach { case (obj, ds) =>
      sb.append(s"\n### `graft.$obj` (${ds.size})\n\n")
      sb.append("| id | what it computes |\n|---|---|\n")
      ds.foreach(d => sb.append(s"| `${d.name}` | ${d.doc} |\n"))
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = println(markdown)
}
