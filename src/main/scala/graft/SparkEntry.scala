package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (SURVEY.md §2): the reference
  * pipeline end-to-end (g01 + entry), the relational pack (q*), dedup (d*),
  * text analytics (t*), similarity search (v*), multimodal (m*). Every
  * SQL-expressible query has a DuckDB oracle with matching column aliases;
  * engine-hash-dependent ops (MinHash/SimHash/LSH/decode stubs) are
  * deterministic but rows-only.
  */
object SparkEntry {

  /** Flagship: the whole reference pipeline (3 scans → inner join → guarded
    * left join → JS-coalesce projections → freshness + prefix filters →
    * GeoJSON features) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    geotab.GeotabPipeline.geojson(
      geotab.GeotabSynth.flagship(spark, "/root/testdata/sf0.001"))

  /** The packs' maps merged, failing when a gate name is declared twice:
    * `++` would silently keep the last. */
  private def registry[V](packs: Map[String, V]*): Map[String, V] = {
    val names = packs.flatMap(_.keys)
    val twice = names.diff(names.distinct)
    require(twice.isEmpty,
      s"gate names declared twice: ${twice.distinct.sorted.mkString(", ")}")
    packs.reduce(_ ++ _)
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry(
      ops.AuditOps.queries,
      ops.SessionGates.queries,
      ops.Relational.queries,
      ops.DedupOps.queries,
      ops.TextOps.queries,
      ops.SimilarityOps.queries,
      ops.ExportOps.queries,
      multimodal.Multimodal.queries,
      Map[String, (SparkSession, String) => DataFrame](
        "g01_geotab_flagship" -> ((s, d) => geotab.GeotabSynth.flagship(s, d)),
        "g02_geotab_connector" -> ((s, d) => geotab.GeotabSynth.connectorFlagship(s, d)),
        "g03_haversine" -> ((s, d) => geotab.GeotabSynth.haversineQuery(s, d)),
        "g04_cot_xml" -> ((s, d) => geotab.GeotabSynth.cotQuery(s, d)),
        "g05_stream_flagship" -> ((s, d) => geotab.GeotabSynth.streamFlagship(s, d)),
        "g06_stream_cot" -> ((s, d) => geotab.GeotabSynth.streamCot(s, d)),
        "g07_trip_segments" -> ((s, d) => geotab.GeotabSynth.tripQuery(s, d)),
        "g08_stream_trips" -> ((s, d) => geotab.GeotabSynth.streamTrips(s, d)),
        "g09_stream_http_submit" -> ((s, d) => geotab.GeotabSynth.streamHttpSubmit(s, d)),
        "g10_stream_two_runs" -> ((s, d) => geotab.GeotabSynth.streamTwoRuns(s, d)),
        "g11_grid_density" -> ((s, d) => geotab.GeotabSynth.gridDensityQuery(s, d)),
        "g12_geofence" -> ((s, d) => geotab.GeotabSynth.geofenceQuery(s, d)),
        "g13_stop_zones" -> ((s, d) => geotab.GeotabSynth.stopZonesQuery(s, d)),
        "g14_harsh_events" -> ((s, d) => geotab.GeotabSynth.harshEventsQuery(s, d)),
        "g15_daily_distance" -> ((s, d) => geotab.GeotabSynth.dailyDistanceQuery(s, d)),
        "g16_zone_transitions" -> ((s, d) => geotab.GeotabSynth.zoneTransitionsQuery(s, d)),
        "g17_polygon_fence" -> ((s, d) => geotab.GeotabSynth.polygonFenceQuery(s, d)),
        "g18_http_transport" -> ((s, d) => geotab.GeotabSynth.httpConnectorFlagship(s, d))))

  lazy val oracleSql: Map[String, String] =
    registry(
      ops.AuditOps.oracle,
      ops.SessionGates.oracle,
      ops.Relational.oracle,
      ops.DedupOps.oracle,
      ops.TextOps.oracle,
      ops.SimilarityOps.oracle,
      ops.ExportOps.oracle,
      multimodal.Multimodal.oracle,
      Map("g01_geotab_flagship" -> geotab.GeotabSynth.flagshipOracleSql,
        // same oracle: g02 is the same pipeline fed through the connector
        "g02_geotab_connector" -> geotab.GeotabSynth.flagshipOracleSql,
        "g03_haversine" -> geotab.GeotabSynth.haversineOracleSql,
        "g04_cot_xml" -> geotab.GeotabSynth.cotOracleSql,
        // stream/batch duality gated: the streaming runs must hash-match the
        // BATCH oracles for the same snapshot
        "g05_stream_flagship" -> geotab.GeotabSynth.flagshipOracleSql,
        "g06_stream_cot" -> geotab.GeotabSynth.cotOracleSql,
        "g07_trip_segments" -> geotab.GeotabSynth.tripOracleSql,
        // the stateful streaming operator must land the SAME closed trips
        "g08_stream_trips" -> geotab.GeotabSynth.tripOracleSql,
        // the HTTP submit loop must deliver payloads that decode back to
        // the exact batch flagship — the reference's output boundary gated
        "g09_stream_http_submit" -> geotab.GeotabSynth.flagshipOracleSql,
        // two scheduled runs with the fleet moving in between must land
        // the union of both runs' flagship outputs
        "g10_stream_two_runs" -> geotab.GeotabSynth.twoRunsOracleSql,
        "g11_grid_density" -> geotab.GeotabSynth.gridDensityOracleSql,
        "g12_geofence" -> geotab.GeotabSynth.geofenceOracleSql,
        "g13_stop_zones" -> geotab.GeotabSynth.stopZonesOracleSql,
        "g14_harsh_events" -> geotab.GeotabSynth.harshEventsOracleSql,
        "g15_daily_distance" -> geotab.GeotabSynth.dailyDistanceOracleSql,
        "g16_zone_transitions" -> geotab.GeotabSynth.zoneTransitionsOracleSql,
        "g17_polygon_fence" -> geotab.GeotabSynth.polygonFenceOracleSql,
        // same oracle again: g18 is the flagship ingested over real HTTP
        // (HttpGeotabClient → local JSON-RPC facade), the production
        // transport inside the correctness gate
        "g18_http_transport" -> geotab.GeotabSynth.flagshipOracleSql))
}
