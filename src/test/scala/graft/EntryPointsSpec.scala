package graft

import org.scalatest.funsuite.AnyFunSuite

/** The set of runnable mains is part of the project's surface: one-off
  * experiment mains belong in a scratch checkout, not in `src/main`, where
  * nothing runs or tests them and they outlive the measurement they made.
  */
class EntryPointsSpec extends AnyFunSuite {

  test("src/main defines exactly the Bench, Verify, Explain and ScalingBench mains") {
    val objectDecl = """\bobject\s+(\w+)""".r
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    // each `def main(` belongs to the nearest object declared above it
    val mains = sources(root).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val objects = objectDecl.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
      "def main\\(".r.findAllMatchIn(text).map { m =>
        objects.filter(_._1 < m.start).lastOption.map(_._2)
          .getOrElse(s"<no object in ${f.getName}>")
      }
    }
    assert(mains.sorted == Seq("Bench", "Explain", "ScalingBench", "Verify"))
  }
}
