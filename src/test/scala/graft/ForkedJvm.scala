package graft

/** Runs a main of the engine or of its tests in a fresh JVM, with the
  * `--add-opens` flags Spark needs on JDK 17, for a spec that needs
  * what the shared test JVM cannot give it: a process boundary, or a
  * session and a Hadoop `FileSystem` cache of its own. */
object ForkedJvm {

  private val javaBin =
    s"${System.getProperty("java.home")}/bin/java"

  // the test JVM's own: engine and test classes plus the Spark jars
  private val classpath = System.getProperty("java.class.path")

  private val opens =
    Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")

  /** Runs `mainClass` with `args` and waits for it: (exit code, stdout
    * and stderr merged). */
  def run(mainClass: String, args: Seq[String],
      jvmArgs: Seq[String] = Nil): (Int, String) = {
    val cmd = (javaBin +: jvmArgs) ++ opens ++
      Seq("-cp", classpath, mainClass) ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    (p.waitFor(), out)
  }
}
