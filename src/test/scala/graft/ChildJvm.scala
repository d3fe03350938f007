package graft

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Runs a main class in a separate JVM on the test classpath, for checks
  * that must stop a SparkContext or exit the process — neither of which
  * the suites' shared session survives. The child inherits this JVM's
  * flags (the JDK 17 `--add-opens` list Spark needs) with a small heap. */
object ChildJvm {
  final case class Result(exitCode: Int, out: String, err: String)

  def run(mainClass: String, args: String*): Result = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val flags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms") ||
        a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(javaBin) ++ flags ++ Seq("-Xmx768m", "-cp",
      System.getProperty("java.class.path"), mainClass) ++ args
    val dir = TempDirs.create("graft-childjvm")
    val (out, err) = (dir.resolve("out").toFile, dir.resolve("err").toFile)
    val p = new ProcessBuilder(cmd.asJava)
      .redirectOutput(out).redirectError(err).start()
    if (!p.waitFor(5, java.util.concurrent.TimeUnit.MINUTES)) {
      p.destroyForcibly().waitFor()
      throw new IllegalStateException(s"$mainClass did not exit in 5 minutes")
    }
    val code = p.exitValue()
    def read(f: java.io.File) =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    Result(code, read(out), read(err))
  }
}
