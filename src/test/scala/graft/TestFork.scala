package graft

/** Shared test-scope plumbing (r13 review: the forked-JVM runner and the
  * add-opens list were duplicated verbatim across specs).
  */
object ForkedJvm {
  /** JDK-17 module opens Spark needs when a session is created outside
    * spark-submit — same list as build.sbt's fork options.
    */
  val addOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Fork a fresh JVM on the suite classpath, with `env` set and the
    * variables in `unset` removed: returns (rc, combined stdout+stderr).
    * Callers assert on rc so the failure message can carry their own
    * context.
    */
  def run(mainClass: String, args: Seq[String] = Nil,
          props: Seq[String] = Nil, env: Map[String, String] = Map.empty,
          maxHeap: String = "2g", unset: Seq[String] = Nil): (Int, String) = {
    val java = s"${sys.props("java.home")}/bin/java"
    val cmd = (Seq(java) ++ addOpens ++ props ++ Seq(
      "-Dspark.ui.enabled=false", s"-Xmx$maxHeap",
      "-cp", sys.props("java.class.path"), mainClass) ++ args)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    unset.foreach(pb.environment().remove)
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    (p.waitFor(), out)
  }
}
