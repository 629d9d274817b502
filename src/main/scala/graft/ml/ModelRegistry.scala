package graft.ml

import java.nio.file.{Files, Paths, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.ml.param.{ParamMap, Params}
import org.apache.spark.ml.util.{MLReadable, MLWritable}

/** Model versioning — Spark realization of model_registry.py: each
  * registered model gets a monotonically-increasing version directory
  * plus a line in a JSON-lines registry file recording name, version,
  * path and metrics. MLlib native save/load is used for persistence
  * (cluster-portable: models write to any Hadoop-compatible FS).
  *
  * The instance also keeps, per name, the latest model it registered
  * or loaded, with that model's version directory. [[load]] serves a
  * copy of it while the index still names that directory as the
  * latest, instead of reading the files back (an MLlib load runs a
  * Spark job per metadata file and per parquet part: 13 jobs for the
  * random-forest pipeline). The files stay the source of truth: a
  * version registered by another instance or session moves the
  * index's latest path, and the next load reads it from disk.
  */
class ModelRegistry(rootDir: String) {
  private val root: Path = Paths.get(rootDir)
  Files.createDirectories(root)
  private val indexFile = root.resolve("registry.jsonl")
  // name -> (version dir, model); guarded by `kept.synchronized`
  private val kept = mutable.Map.empty[String, (String, Params)]

  private def keep(name: String, path: String, model: Params): Unit =
    kept.synchronized(kept(name) = (path, model.copy(ParamMap.empty)))

  private def esc(s: String) = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
  }

  /** SHA-256 over the saved artifact's files (sorted walk) —
    * model_registry.py:47-55's integrity hash, directory-shaped. */
  def artifactHash(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Files.walk(dir).iterator().asScala.toSeq
      .filter(Files.isRegularFile(_)).sortBy(_.toString)
      .foreach(p => md.update(Files.readAllBytes(p)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Save `model` as the next version of `name`; returns the version. */
  def register(name: String, model: Params with MLWritable,
               metrics: Map[String, Double]): Int = {
    val version = latestVersion(name).getOrElse(0) + 1
    val dir = root.resolve(name).resolve(s"v$version")
    model.write.overwrite().save(dir.toString)
    // NaN/Infinity are not valid JSON number literals — write null
    val ms = metrics.map { case (k, v) =>
      val jv = if (v.isNaN || v.isInfinity) "null" else v.toString
      s""""${esc(k)}": $jv"""
    }.mkString("{", ", ", "}")
    val line = s"""{"name": "${esc(name)}", "version": $version, "path": "${esc(dir.toString)}", "hash": "${artifactHash(dir)}", "metrics": $ms}"""
    Files.writeString(indexFile, line + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    keep(name, dir.toString, model)
    version
  }

  /** Metric values of a registered (name, version). */
  def metricsOf(name: String, version: Int): Map[String, Double] = {
    val line = rawLines.find(l =>
      l.contains(s""""name": "${esc(name)}"""") && l.contains(s""""version": $version"""))
      .getOrElse(throw new NoSuchElementException(s"$name v$version"))
    """"([a-zA-Z0-9_]+)": (-?[0-9.eE+-]+)""".r.findAllMatchIn(
      line.substring(line.indexOf("\"metrics\"")))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Compare two versions of a model (model_registry.py:102-128):
    * per-metric (a, b, delta). */
  def compare(name: String, versionA: Int, versionB: Int)
      : Map[String, (Double, Double, Double)] = {
    val a = metricsOf(name, versionA)
    val b = metricsOf(name, versionB)
    (a.keySet ++ b.keySet).map { k =>
      val va = a.getOrElse(k, Double.NaN)
      val vb = b.getOrElse(k, Double.NaN)
      k -> (va, vb, vb - va)
    }.toMap
  }

  private def rawLines: Seq[String] =
    if (!Files.exists(indexFile)) Seq.empty
    else Files.readAllLines(indexFile).asScala.toSeq.filter(_.nonEmpty)

  /** All registered (name, version, path) triples. */
  def entries: Seq[(String, Int, String)] =
    rawLines.map { l =>
      val name = """"name": "([^"]*)"""".r.findFirstMatchIn(l).get.group(1)
      val v = """"version": (\d+)""".r.findFirstMatchIn(l).get.group(1).toInt
      val p = """"path": "([^"]*)"""".r.findFirstMatchIn(l).get.group(1)
      (name, v, p)
    }

  def latestVersion(name: String): Option[Int] =
    entries.filter(_._1 == name).map(_._2).maxOption

  /** Load the latest version of `name` with the given loader
    * (e.g. `reg.load("rf", RandomForestRegressionModel)`): a copy of
    * the kept model when it is that version and of type `M`, else the
    * files read back (and kept). */
  def load[M <: Params : ClassTag](name: String, loader: MLReadable[M]): M = {
    val (_, _, path) = entries.filter(_._1 == name).maxBy(_._2)
    kept.synchronized(kept.get(name)).collect {
      case (p, m: M) if p == path => m.copy(ParamMap.empty).asInstanceOf[M]
    }.getOrElse {
      val m = loader.load(path)
      keep(name, path, m)
      m
    }
  }
}
