package graft

/** Shared setup for the fault-rehearsal specs and their probe mains: the
  * JDK 17 `--add-opens` list, the forked-JVM launcher, and for the
  * local-cluster probes ([[StageRetrySpec]], [[StreamLossSpec]]) the
  * executor-side jar and the repo-local SPARK_HOME. Paths resolve against
  * the working directory (the checkout root under sbt). */
object ProbeEnv {

  /** What Spark needs on JDK 17 outside spark-submit (build.sbt's list). */
  val addOpens: Seq[String] = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")

  /** Absolute path of `target/<rel>` under the working directory. */
  def target(rel: String): java.nio.file.Path =
    java.nio.file.Paths.get("target", rel).toAbsolutePath.normalize()

  /** Runs `main args` in a fresh JVM on this JVM's classpath (UI off, UTC,
    * `-Xmx<heap>`, `env` added to the environment); returns its exit code
    * and its combined stdout/stderr. */
  def fork(main: String, args: Seq[String], env: Map[String, String] = Map.empty,
           heap: String = "4g"): (Int, String) = {
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ addOpens ++ Seq(
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      s"-Xmx$heap", "-cp", sys.props("java.class.path"), main) ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    val out = new StringBuilder
    scala.io.Source.fromInputStream(p.getInputStream).getLines()
      .foreach { l => out.append(l).append('\n') }
    (p.waitFor(), out.toString)
  }

  /** Environment of a local-cluster probe: a fresh jar of the current
    * classes and the SPARK_HOME shim. */
  def clusterEnv(): Map[String, String] = Map(
    "GRAFT_JAR" -> jarFromClasses(), "SPARK_HOME" -> sparkHomeShim(),
    "SPARK_SCALA_VERSION" -> "2.13")

  /** Jar the CURRENT compiled classes for executor-side classloading —
    * the packaged sbt artifact can be stale relative to the classes
    * under test, and a stale closure class in the executors would fail
    * (or worse, silently test old code). Includes test-classes: the
    * probe mains (and their task-closure classes, which executors must
    * classload) live in src/test since round 13 so the published
    * library jar carries no fault-injection harness. */
  def jarFromClasses(): String = {
    import scala.jdk.CollectionConverters._
    val roots = Seq("classes", "test-classes")
      .map(d => target(s"scala-2.13/$d"))
      .filter(java.nio.file.Files.isDirectory(_))
    val scratch = java.nio.file.Paths.get(SparkSpec.scratch())
    java.nio.file.Files.createDirectories(scratch)
    val out = java.nio.file.Files.createTempFile(
      scratch, "graft_probe_", ".jar")
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(out))
    val seen = scala.collection.mutable.Set.empty[String]
    try roots.foreach { classes =>
      val files = java.nio.file.Files.walk(classes)
      try files.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).foreach { p =>
          val name = classes.relativize(p).toString.replace('\\', '/')
          if (seen.add(name)) {
            zos.putNextEntry(new java.util.zip.ZipEntry(name))
            java.nio.file.Files.copy(p, zos)
            zos.closeEntry()
          }
        }
      finally files.close()
    }
    finally zos.close()
    out.toString
  }

  /** Repo-local SPARK_HOME (symlinks to /opt/spark): the standalone
    * Worker hardcodes its executor work dir to $SPARK_HOME/work. */
  def sparkHomeShim(): String = {
    val shim = target("spark_home_shim")
    java.nio.file.Files.createDirectories(shim)
    Seq("jars", "bin", "sbin", "conf", "RELEASE").foreach { d =>
      val l = shim.resolve(d)
      if (!java.nio.file.Files.exists(l))
        java.nio.file.Files.createSymbolicLink(
          l, java.nio.file.Paths.get(s"/opt/spark/$d"))
    }
    shim.toString
  }
}
