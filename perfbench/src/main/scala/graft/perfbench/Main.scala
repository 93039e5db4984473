package graft.perfbench

/** Entry point of one benchmark JVM. run.py builds the project, makes
  * the inputs it stages outside the JVM, and launches this with
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * --cpus <n> [--tables <dirs>] [--trace-file <path>]`. The last stdout
  * line is the JVM's result object.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val r = new Run(Args.parse(argv))
    try {
      r.args.workload match {
        case "claims_ingest" => ClaimsIngest.run(r)
        case "query_mix" => QueryMix.run(r)
        case w => sys.error(s"unknown workload $w")
      }
      r.emit()
    } finally r.shutdown()
  }
}
