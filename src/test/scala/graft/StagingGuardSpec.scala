package graft

/** One mechanism per concern: each row names a call that only its one
  * owner under src/main may make, so a hand-rolled copy (a stage root
  * with its own temp dir, a per-module function registration, a main
  * with its own session builder, a bare session clone) cannot grow back
  * beside it. */
class StagingGuardSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else Seq(f)
  private lazy val main =
    walk(new java.io.File("src/main")).filter(_.getName.endsWith(".scala"))

  // (test name, call, files allowed to make it, where it belongs)
  private val rows = Seq(
    ("only Staging.scala creates temp directories under src/main",
      "createTempDirectory", Set("Staging.scala"), "graft.Staging"),
    ("only the function table and registerLsh register SQL functions under src/main",
      "createOrReplaceTempFunction", Set("Functions.scala", "VectorExpressions.scala"),
      "graft.functions.Functions.table"),
    ("only the session factory builds a SparkSession under src/main",
      "SparkSession.builder", Set("Sessions.scala"), "graft.Sessions.local"),
    ("only Tables.sessionClone starts a new session under src/main",
      "newSession()", Set("Tables.scala"), "graft.Tables.sessionClone"))

  for ((name, call, owners, via) <- rows) test(name) {
    assert(owners.forall(o => main.exists(_.getName == o)), "run from the repo root")
    val offenders = main.filter(f => !owners(f.getName) &&
      java.nio.file.Files.readString(f.toPath).contains(call))
    assert(offenders.isEmpty, s"$call outside $via: ${offenders.mkString(", ")}")
  }
}
