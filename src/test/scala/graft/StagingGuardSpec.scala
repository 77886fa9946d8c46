package graft

/** Session intermediates have one store: a hand-rolled stage root (its
  * own temp dir, lock map and shutdown hook) must not grow back beside
  * [[Staging]]. */
class StagingGuardSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("only Staging.scala creates temp directories under src/main") {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val main = walk(new java.io.File("src/main")).filter(_.getName.endsWith(".scala"))
    assert(main.exists(_.getName == "Staging.scala"), "run from the repo root")
    val offenders = main.filter(f => f.getName != "Staging.scala" &&
      java.nio.file.Files.readString(f.toPath).contains("createTempDirectory"))
    assert(offenders.isEmpty,
      s"stage through graft.Staging instead: ${offenders.mkString(", ")}")
  }
}
