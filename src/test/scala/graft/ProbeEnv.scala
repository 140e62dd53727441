package graft

/** Shared setup for the local-cluster probe specs ([[StageRetrySpec]],
  * [[StreamLossSpec]]): the executor-side jar and the repo-local
  * SPARK_HOME. */
object ProbeEnv {

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
      .map(d => java.nio.file.Paths.get(s"/root/repo/target/scala-2.13/$d"))
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
    val shim = java.nio.file.Paths.get("/root/repo/target/spark_home_shim")
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
