package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One local session shared by the specs, built like the benchmark's. */
object TestSession {
  /** A fresh directory under target/, so tests write nothing elsewhere. */
  def tempDir(prefix: String): java.io.File = {
    val root = new java.io.File("target", "test-tmp")
    root.mkdirs()
    Files.createTempDirectory(root.toPath, prefix).toFile.getAbsoluteFile
  }

  lazy val spark: SparkSession = {
    val work = tempDir("session").getPath
    Main.session(Main.Args("test", 1, 0, trace = false, "", work, "", ""))
  }
}
