package graft.operators
import graft.Key

/** Statistical / time-series operators: the numeric-analysis layer the
  * reference's dashboard (`/root/reference/app.py:80-84` recomputes
  * mean/sum cards per refresh) grows into once users ask "how do these
  * measures RELATE" rather than "what is their level" — correlation
  * structure, trends, distribution shape, smoothing, streaks, and gap
  * repair.
  *
  * Scale shapes (the part that must survive 1000 executors):
  *   - corr_matrix: ONE scan + a model-sized mergeable Gram partial per
  *     partition ([[graft.functions.GramMatrixAgg]]) — the d×d second
  *     moment of a 100 TB fact table costs one reduce of ~d²/2 doubles;
  *     no per-pair pass, no shuffle of the fact table.
  *   - regr_trend / group_entropy: plain keyed aggregation — partial
  *     aggregates push to the map side, only group-sized state shuffles.
  *   - hist_equidepth / window_ewma / window_streaks: entity-partitioned
  *     windows (event_type / user_id) — per-key state is bounded, keys
  *     parallelize; no global sort anywhere.
  *   - resample_interp: per-user day spine + frame-bounded
  *     ignore-nulls carries, the interpolation twin of resample_ffill.
  *
  * Determinism: every double that crosses the oracle boundary is
  * `round(…, 6) + 0.0` (the repo-wide −0.0 normalization); orderings are
  * total (unique tie-break column in every ORDER BY).
  */

object StatsOps extends StatsTestOps with StatsSeqOps
    with StatsWindowOps with StatsForecastOps with StatsDistOps {

  val keys: Seq[Key] =
    testKeys ++ seqKeys ++ windowKeys ++ forecastKeys ++ distKeys
}
