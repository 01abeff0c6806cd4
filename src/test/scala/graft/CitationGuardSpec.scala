package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Every main and artifact that program source cites must exist.
  *
  * Code comments carry the evidence for design decisions ("measured by
  * X", "see Y_rNN.md"). A cited main that was deleted, or an artifact
  * that was never committed, turns that evidence into an unverifiable
  * claim. This scans `src/main/scala` for three kinds of name:
  *   - `tools.<Name>` / `graft.tools.<Name>`: a main under `graft/tools/`;
  *   - `<Name>Probe` / `<Name>Prof`: the naming of the same mains;
  *   - `<NAME>_rNN.md` / `<NAME>_rNN.json`: a round artifact,
  * and fails if a named main has no `graft/tools/<Name>.scala` or a named
  * artifact is nowhere in the tree. Run from the repository root (sbt's
  * forked test JVM does).
  */
class CitationGuardSpec extends AnyFunSuite {

  private val root = new File(".").getCanonicalFile
  private val mainSrc = new File(root, "src/main/scala")
  private val toolsDir = new File(mainSrc, "graft/tools")

  private val mainRef = """\b(?:graft\.)?tools\.([A-Z][A-Za-z0-9]*)""".r
  private val probeRef = """\b([A-Z][A-Za-z0-9]*(?:Probe|Prof))\b""".r
  private val artifactRef = """\b([A-Za-z][A-Za-z0-9_]*_r[0-9]{2}\.(?:md|json))\b""".r

  private def walk(f: File, keep: File => Boolean): Seq[File] =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
        .filterNot(d => d.isDirectory &&
          (d.getName.startsWith(".") || Set("target", "spark-warehouse", "metastore_db")(d.getName)))
        .flatMap(walk(_, keep))
    else if (keep(f)) Seq(f) else Seq.empty

  test("src/main/scala cites only mains and artifacts that exist") {
    assert(mainSrc.isDirectory, s"not run from the repository root: $root")
    val treeNames = walk(root, _ => true).map(_.getName).toSet
    val mains = Option(toolsDir.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.endsWith(".scala")).map(_.stripSuffix(".scala")).toSet
    val dangling = for {
      f <- walk(mainSrc, _.getName.endsWith(".scala"))
      (line, no) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      problem <- mainRef.findAllMatchIn(line).map(_.group(1)).filterNot(mains)
          .map(n => s"main tools.$n has no graft/tools/$n.scala") ++
        probeRef.findAllMatchIn(line).map(_.group(1)).filterNot(mains)
          .map(n => s"main $n has no graft/tools/$n.scala") ++
        artifactRef.findAllMatchIn(line).map(_.group(1)).filterNot(treeNames)
          .map(n => s"artifact $n is not in the tree")
    } yield s"${root.toPath.relativize(f.toPath)}:${no + 1}: $problem"
    assert(dangling.isEmpty, dangling.mkString("\n", "\n", ""))
  }
}
