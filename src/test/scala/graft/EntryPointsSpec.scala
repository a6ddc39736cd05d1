package graft

import org.scalatest.funsuite.AnyFunSuite

/** The set of runnable mains is part of the project's surface: one-off
  * experiment mains belong in a scratch checkout, not in `src/main`, where
  * nothing runs or tests them and they outlive the measurement they made.
  */
class EntryPointsSpec extends AnyFunSuite {

  private def sources(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Seq.empty

  /** (file, text) of every main source file. */
  private def mainSources: Seq[(java.io.File, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    sources(root).map(f => f -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  test("src/main defines exactly the Bench, Verify, Explain and ScalingBench mains") {
    val objectDecl = """\bobject\s+(\w+)""".r
    // each `def main(` belongs to the nearest object declared above it
    val mains = mainSources.flatMap { case (f, text) =>
      val objects = objectDecl.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
      "def main\\(".r.findAllMatchIn(text).map { m =>
        objects.filter(_._1 < m.start).lastOption.map(_._2)
          .getOrElse(s"<no object in ${f.getName}>")
      }
    }
    assert(mains.sorted == Seq("Bench", "Explain", "ScalingBench", "Verify"))
  }

  test("the mains build their session in one place") {
    // one builder, so every main plans keys with the same config and the
    // same registered SQL functions and optimizer rules
    val sites = mainSources.flatMap { case (f, text) =>
      Seq.fill("""SparkSession\.builder\(\)""".r.findAllMatchIn(text).size)(f.getName)
    }
    assert(sites == Seq("LocalSession.scala"))
  }

  test("the accumulator-probed delta loop and the eager cut each live in one place") {
    // a second copy of the loop, or a private eager cut beside
    // Checkpoints.cut, is how the copies drifted apart before
    val probes = mainSources.collect {
      case (f, text) if text.contains("longAccumulator(") => f.getName
    }
    assert(probes == Seq("Fixpoint.scala"))
    val cutEagerDefs = mainSources.flatMap { case (f, text) =>
      Seq.fill("""def\s+cutEager\b""".r.findAllMatchIn(text).size)(f.getName)
    }
    assert(cutEagerDefs.isEmpty, s"cutEager defined in $cutEagerDefs")
  }
}
