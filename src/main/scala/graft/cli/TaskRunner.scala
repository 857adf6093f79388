package graft.cli

import graft.{Bench, Registry}

/** Command-line entrypoint mirroring the reference's per-task jar
  * invocation (reference README.md:96-145 — `hadoop jar
  * CS4433_Project1.jar <TaskClass> <inputs...> <output>`): one
  * spark-submit-able main that runs any registered query against a
  * table directory and writes a Hadoop-shaped output directory.
  *
  * {{{
  * spark-submit --class graft.cli.TaskRunner graft.jar \
  *   TaskE /data/tables /out/taskE [--format=tsv|parquet]
  * }}}
  *
  * The reference task names (TaskA..TaskH, WordCount, Pi) resolve to
  * their re-expressed queries (each spec's `alias`); any registered
  * query name also works verbatim, so the CLI surface grows with the
  * registry for free. The default `tsv` format writes tab-separated
  * `part-*` files — the same shape the reference's `hdfs dfs -cat
  * output/part-r-00000` expects — and `--format=parquet` writes typed
  * parquet instead. The output directory is overwritten, automating
  * the reference README's "remove the output directory before running
  * each job" note.
  *
  * Input paths differ from the reference by design: the reference
  * passes one CSV path per table because each Hadoop job re-declares
  * its inputs; here the single `<tableDir>` is the directory holding
  * the parquet/CSV tables and each query reads the tables it needs
  * (the S2 multi-source pattern). On a cluster this is an HDFS/S3
  * prefix; locally a filesystem path.
  */
object TaskRunner {

  /** A reference task name (its spec's `alias`) or a registered query
    * name → the registered query.
    */
  def resolve(task: String): Option[String] = Registry.resolve(task).map(_.name)

  private def usage: String =
    s"""usage: TaskRunner <task> <tableDir> <outputDir> [--format=tsv|parquet]
       |  <task>: ${Registry.specs.flatMap(_.alias).sorted.mkString(", ")}, or any
       |  registered query name (${Registry.specs.size} available)""".stripMargin

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    require(pos.length == 3, usage)
    val Seq(task, tableDir, outDir) = pos.toSeq
    val format = flags.collectFirst {
      case f if f.startsWith("--format=") => f.stripPrefix("--format=")
    }.getOrElse("tsv")
    require(format == "tsv" || format == "parquet", usage)
    val spec = Registry.resolve(task).getOrElse(
      throw new IllegalArgumentException(s"unknown task '$task'\n$usage"))

    // under spark-submit the master and sizing come from the launcher
    val spark = Bench.builder(Bench.envCpus).appName(s"graft-${spec.name}").getOrCreate()

    val result = spec.build(spark, tableDir)
    format match {
      case "parquet" => result.write.mode("overwrite").parquet(outDir)
      case _         => graft.sources.Csv.writeKv(result, outDir)
    }
  }
}
