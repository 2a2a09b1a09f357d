package graft.api

import graft.app.{Experiment, Main}

/** Standalone job-service process: REST lifecycle over a selectable
  * execution backend — the stand-in for the reference's Flask +
  * EMR-on-EKS pair.
  *
  * `JOB_BACKEND=inprocess` (default) runs jobs on one shared local
  * SparkSession. `JOB_BACKEND=emr` assembles the full
  * [[EmrBackend.EmrConfig]] from the reference's env surface
  * (EMR_VIRTUAL_CLUSTER_ID, EMR_EXECUTION_ROLE_ARN, …) and fails fast
  * with the wiring point for an AWS SDK client — the SDK is not
  * shippable in this build, but every request the client would send is
  * assembled and spec-tested (`EmrBackendSpec`).
  */
object ServiceMain {
  def main(args: Array[String]): Unit = {
    val port = sys.env.getOrElse("PORT", "8591").toInt
    lazy val spark = Main.session("graft-job-service")

    val backend: JobService.JobBackend =
      sys.env.getOrElse("JOB_BACKEND", "inprocess") match {
        case "emr" =>
          val cfg = EmrBackend.fromEnv()
          require(cfg.virtualClusterId.nonEmpty,
            "JOB_BACKEND=emr needs EMR_VIRTUAL_CLUSTER_ID (emr.py env surface)")
          new EmrBackend(sdkEmrClient(), cfg)
        case _ =>
          new JobService.InProcessBackend(job => {
            // job.args is the marshalled --key value list; reuse the CLI parser
            val argMap = Main.parseArgs(job.args.toArray)
            Experiment.run(spark, Main.buildConfig(argMap))
          })
      }
    val svc = new JobService(backend)
    val actual = svc.start(port)
    println(s"[graft-service] listening on :$actual")
    Thread.currentThread().join() // serve forever
  }

  /** The deployment seam for a real `emr-containers` client. A
    * production build implements [[EmrBackend.EmrContainersClient]] over
    * the AWS SDK (software.amazon.awssdk:emrcontainers) — ~30 lines of
    * request/response mapping; this offline build has no SDK jar, so the
    * seam fails fast instead of shipping a silent stub.
    */
  private def sdkEmrClient(): EmrBackend.EmrContainersClient =
    throw new UnsupportedOperationException(
      "AWS SDK not bundled in this build: implement EmrContainersClient " +
        "over software.amazon.awssdk:emrcontainers and wire it here")
}
