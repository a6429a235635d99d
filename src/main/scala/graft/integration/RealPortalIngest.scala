package graft.integration

import org.apache.spark.sql.functions._

/** Env-gated integration main for the ONE stratum the sandbox cannot
  * exercise: a real network portal behind TLS/auth (the reference's
  * clients speak HTTPS to hosted archive providers —
  * scripts/main.py:160-189). Everything below the socket — protocol,
  * pushdown, pagination, prefetch, clamping, retry, Arrow decode — is
  * already under test against the loopback stub (ArrowHttpSourceSpec);
  * this main points the identical source at a live endpoint.
  *
  * The portal must speak the arrow-http contract (ArrowHttpStub's
  * Scaladoc): `GET /metadata` → `{"start_block","height"}`, and
  * `POST /query` `{"from_block","to_block","fields","event_types"?}` →
  * an Arrow IPC stream + `X-Next-Block` pagination cursor.
  *
  * Usage (a machine WITH egress):
  * {{{
  *   export GRAFT_PORTAL_URL=https://portal.example.com     # required
  *   export GRAFT_PORTAL_BEARER=...        # optional, sent as Bearer
  *   export GRAFT_PORTAL_FROM=0            # optional block window
  *   export GRAFT_PORTAL_TO=100000
  *   export GRAFT_PORTAL_STREAM=1          # optional: micro-batch drain
  *   export SPARK_GRAFT_CPUS=8             # optional, default: all cores
  *   sbt "runMain graft.integration.RealPortalIngest"
  * }}}
  * Without GRAFT_PORTAL_URL the main explains itself and exits 0 — a
  * no-op in-sandbox, so it can sit in CI without egress.
  */
object RealPortalIngest {
  def main(args: Array[String]): Unit = {
    val urlOpt = sys.env.get("GRAFT_PORTAL_URL").filter(_.nonEmpty)
    if (urlOpt.isEmpty) {
      println("RealPortalIngest: GRAFT_PORTAL_URL is not set — nothing " +
        "to do in this environment. Set it to a live arrow-http portal " +
        "(plus optional GRAFT_PORTAL_BEARER / _FROM / _TO / _STREAM=1) " +
        "to run the live-ingest round trip.")
      return
    }
    val url = urlOpt.get
    val from = sys.env.get("GRAFT_PORTAL_FROM").map(_.toLong)
    val to = sys.env.get("GRAFT_PORTAL_TO").map(_.toLong)
    val stream = sys.env.get("GRAFT_PORTAL_STREAM").contains("1")

    val spark = graft.Session.fromEnv()
    try {
      def base = {
        val r = spark.read.format("arrow-http").option("url", url)
        val r2 = from.fold(r)(f => r.option("fromBlock", f.toString))
        to.fold(r2)(t => r2.option("toBlock", t.toString)).load()
      }
      if (stream) {
        import graft.streaming.EventStreams.{runToTable, Sink}
        runToTable(spark.readStream.format("arrow-http")
          .option("url", url)
          .option("maxBlocksPerTrigger", "8192")
          .load()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_rows")), Sink.Memory("complete"))
          .orderBy(col("event_type")).show(100, false)
      } else {
        println(s"-- live scan plan against $url --")
        base.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("user_id")).as("n_users"),
            min(col("event_id")).as("first_block"),
            max(col("event_id")).as("last_block"))
          .orderBy(col("event_type"))
          .show(100, false)
      }
      println("RealPortalIngest: live round trip OK")
    } finally spark.stop()
  }
}
