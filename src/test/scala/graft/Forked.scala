package graft

import org.scalatest.Assertions.assert

/** Runs a main class in a child JVM with this JVM's flags and classpath
  * (the suite's add-opens and heap), so a spec can check a whole entry
  * point, exit code included, without touching the shared session.
  */
object Forked {

  /** Exit code and stdout of `mainClass args` under this environment plus
    * `env`; stderr is discarded. Fails the calling test if the child is
    * still running after `timeoutMin` minutes.
    */
  def run(mainClass: String, args: Seq[String], env: Map[String, String],
      timeoutMin: Int = 10): (Int, String) = {
    import scala.jdk.CollectionConverters._
    val javaBin = sys.props("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xrunjdwp"))
    val cmd = (Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", sys.props("java.class.path"), mainClass) ++ args).asJava
    val pb = new ProcessBuilder(cmd)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.redirectErrorStream(false)
    pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    val p = pb.start()
    // drain stdout on its own thread so the waitFor timeout below can fire
    val outBuf = new java.io.ByteArrayOutputStream()
    val drain = new Thread(() => {
      try p.getInputStream.transferTo(outBuf)
      catch { case _: Exception => () }
    })
    drain.setDaemon(true)
    drain.start()
    val done = p.waitFor(timeoutMin.toLong,
      java.util.concurrent.TimeUnit.MINUTES)
    if (!done) p.destroyForcibly()
    drain.join(10000)
    assert(done, s"$mainClass child timed out")
    (p.exitValue(), outBuf.toString("UTF-8"))
  }
}
