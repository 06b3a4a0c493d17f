package graft.flow

import java.nio.file.{FileSystemAlreadyExistsException, FileSystems, Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Named-flow registry — the reference's management path [PK: eventstreams
  * named flows; Logstash pipelines.yml]: flow specs live as `<name>.json`
  * files in a registry directory and run BY NAME. Hot-update is re-read on
  * next run: every `run` loads the file fresh (batch semantics — a spec
  * edit lands on the next invocation, no daemon to signal), so operating a
  * deployed flow is editing a JSON file, never a code change.
  *
  * The directory is `spark.graft.flow.dir` when the session sets it —
  * tests point it at scratch dirs; a cluster deployment points it at
  * shared storage the driver can read (specs are driver-side plan
  * construction only, so the executors never need the registry). Unset,
  * it is the `flows/` directory the build puts on the classpath (sbt
  * copies the repository's `conf/flows` there), so the process's working
  * directory never matters; hot-editing specs needs the conf, since the
  * shipped copy changes only with a rebuild.
  */
object FlowRegistry {

  def registryDir(s: SparkSession): Path =
    s.conf.getOption("spark.graft.flow.dir").map(Paths.get(_))
      .getOrElse(shipped)

  /** The shipped `flows/`: a plain directory on a class-directory
    * classpath, a path in the jar's file system when the classes are
    * packaged (as `sbt run` does). */
  private def shipped: Path = {
    val uri = Option(getClass.getResource("/flows")).getOrElse(sys.error(
      "flow registry: no flows/ on the classpath and spark.graft.flow.dir " +
        "is unset")).toURI
    if (uri.getScheme == "jar")
      try FileSystems.newFileSystem(uri, java.util.Collections.emptyMap[String, Any]())
      catch { case _: FileSystemAlreadyExistsException => () }
    Paths.get(uri)
  }

  /** Flow names available right now (sorted, for stable error text). */
  def available(s: SparkSession): Seq[String] = {
    val d = registryDir(s)
    if (!Files.isDirectory(d)) Nil
    else {
      val ls = Files.list(d)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).toSeq.sorted
      finally ls.close()
    }
  }

  /** Read a named spec, failing loudly — an unknown name must list what IS
    * deployed, not surface as a file-not-found stack. */
  def load(s: SparkSession, name: String): String = {
    require(name.matches("[A-Za-z0-9_-]+"),
      s"flow registry: name must be [A-Za-z0-9_-]+, got '$name'")
    val f = registryDir(s).resolve(s"$name.json")
    if (!Files.isRegularFile(f))
      sys.error(s"flow registry: no flow named '$name' in " +
        s"${registryDir(s)} — available: " +
        (if (available(s).isEmpty) "(none)" else available(s).mkString(", ")))
    new String(Files.readAllBytes(f), "UTF-8")
  }

  /** Run a named single-output flow against the sf-dir tables. */
  def run(s: SparkSession, dataDir: String, name: String): DataFrame =
    Flow.compile(s, dataDir, load(s, name))

  /** Run a named routing flow (final step `route`). */
  def runRoutes(s: SparkSession, dataDir: String,
      name: String): Seq[(String, DataFrame)] =
    Flow.routes(s, dataDir, load(s, name))
}
