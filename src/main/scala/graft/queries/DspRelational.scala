package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import QueryDef.{table, EventsRectSql}
import graft.model.Frames
import graft.operators.CommonReferencing

/** The reference's cross-channel/relational operator surface (SURVEY.md §2:
  * A1-A4, W1-W2, P4-P5, F2, F12-F13, J2) demonstrated on the harness
  * `events` table channelized into an 8-channel LongFrame — each with an
  * exact DuckDB oracle. The spectral (FFT) operators are oracle-checked via
  * golden vectors in the test suite instead (not SQL-expressible).
  */
object DspRelational {

  // fused adapter (one sample-level shuffle) + narrow posexplode — identical
  // rows to rectangularize(eventsToLong(...)), spec-pinned
  private def rectLong(s: SparkSession, dir: String): DataFrame =
    Frames.toLong(Frames.eventsToSegments(table(s, dir, "events"), 8, 200.0))

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q20_boxcar_smooth", "W1 boxcar window smoothing",
      (s, dir) => {
        val w = Window.partitionBy("channel").orderBy("t_idx").rowsBetween(-25, 24)
        rectLong(s, dir)
          .withColumn("smoothed", round(avg("value").over(w), 3))
          .select("channel", "t_idx", "smoothed")
          .orderBy("channel", "t_idx")
      },
      Some(s"""$EventsRectSql
              |SELECT channel, t_idx,
              |  round(avg(value) OVER (PARTITION BY channel ORDER BY t_idx
              |    ROWS BETWEEN 25 PRECEDING AND 24 FOLLOWING), 3) AS smoothed
              |FROM rect ORDER BY channel, t_idx""".stripMargin)),

    QueryDef("q21_car_trimmed_mean", "A1/A2 trimmed-mean CAR + subtraction (flagship aggregate)",
      (s, dir) => {
        import graft.operators.Windowing
        // plant missing samples (channel 3, every 97th t) to exercise the
        // reference's NaN path: sort-NaN-last, trim, nanmean the kept middle
        val seg = Frames.eventsToSegments(table(s, dir, "events"), 8, 200.0)
        val plant = udf { (ch: Int, values: Array[Double]) =>
          if (ch != 3) values
          else {
            val out = values.clone()
            var i = 0
            while (i < out.length) { out(i) = Double.NaN; i += 97 }
            out
          }
        }
        val planted = seg.withColumn("values", plant(col("channel"), col("values")))
        // the scale path, segment-native: the blocked CAR over bounded
        // windows, entered via the NARROW windowSegments explode — the input
        // is already assembled segments, so re-deriving a long frame just to
        // re-shuffle it back into windows would pay a second sample-level
        // shuffle
        val referenced = CommonReferencing.subtractCarSegments(
          Windowing.windowSegments(planted, stride = 8192, context = 0),
          nChannels = 8, meanFrac = 0.95, blockSize = 8192)
        Windowing.windowedToLong(referenced, stride = 8192)
          .select(col("t_idx"), col("channel"), round(col("value"), 6).as("referenced"))
          .orderBy("t_idx", "channel")
      },
      // nExclude = ceil(8*(1-.95)/2) = 1: drop one from each NULLS-LAST-sorted
      // end, mean of the non-null kept middle (np.nanmean semantics)
      Some(s"""$EventsRectSql, holed AS (
              |  SELECT channel, t_idx,
              |    CASE WHEN channel = 3 AND t_idx % 97 = 0 THEN NULL ELSE value END AS value
              |  FROM rect
              |), car AS (
              |  SELECT t_idx,
              |    list_aggregate(list_slice(list_sort(list(value), 'ASC', 'NULLS LAST'), 2, 7), 'sum')
              |      / len(list_filter(list_slice(list_sort(list(value), 'ASC', 'NULLS LAST'), 2, 7),
              |                        x -> x IS NOT NULL)) AS car
              |  FROM holed GROUP BY t_idx
              |)
              |SELECT r.t_idx, r.channel, round(r.value - c.car, 6) AS referenced
              |FROM holed r JOIN car c ON r.t_idx = c.t_idx
              |ORDER BY r.t_idx, r.channel""".stripMargin)),

    QueryDef("q22_zscore_baseline", "A3/F13 baseline z-score",
      (s, dir) => {
        val long = rectLong(s, dir)
        val stats = long.filter(col("t_idx") < 125)
          .groupBy("channel")
          .agg(avg("value").as("mu"), stddev_pop("value").as("sd"))
        long.join(broadcast(stats), Seq("channel"))
          .select(col("channel"), col("t_idx"),
            round((col("value") - col("mu")) / col("sd"), 6).as("z"))
          .orderBy("channel", "t_idx")
      },
      Some(s"""$EventsRectSql, stats AS (
              |  SELECT channel, avg(value) AS mu, stddev_pop(value) AS sd
              |  FROM rect WHERE t_idx < 125 GROUP BY channel
              |)
              |SELECT r.channel, r.t_idx, round((r.value - s.mu) / s.sd, 6) AS z
              |FROM rect r JOIN stats s ON r.channel = s.channel
              |ORDER BY r.channel, r.t_idx""".stripMargin)),

    QueryDef("q23_amplitude_phase", "P5/F12 amplitude+phase via hypot/atan2",
      (s, dir) => {
        val w = Window.partitionBy("channel").orderBy("t_idx")
        rectLong(s, dir)
          .withColumn("im", lag("value", 1).over(w))
          .filter(col("im").isNotNull)
          .select(col("channel"), col("t_idx"),
            round(hypot(col("value"), col("im")), 6).as("amplitude"),
            round(atan2(col("im"), col("value")), 6).as("phase"))
          .orderBy("channel", "t_idx")
      },
      Some(s"""$EventsRectSql
              |SELECT channel, t_idx,
              |  round(sqrt(value * value + im * im), 6) AS amplitude,
              |  round(atan2(im, value), 6) AS phase
              |FROM (SELECT channel, t_idx, value,
              |        lag(value) OVER (PARTITION BY channel ORDER BY t_idx) AS im
              |      FROM rect) t
              |WHERE im IS NOT NULL ORDER BY channel, t_idx""".stripMargin)),

    QueryDef("q24_trim_scale", "P4 trim/slice + F2 unit scaling (x1e6)",
      (s, dir) => {
        rectLong(s, dir)
          .filter(col("t_idx").between(100, 899))
          .select(col("channel"), col("t_idx"),
            round(col("value") * 1e6, 2).as("microvolts"))
          .orderBy("channel", "t_idx")
      },
      Some(s"""$EventsRectSql
              |SELECT channel, t_idx, round(value * 1000000.0, 2) AS microvolts
              |FROM rect WHERE t_idx BETWEEN 100 AND 899
              |ORDER BY channel, t_idx""".stripMargin)),

    QueryDef("q25_channel_metadata_join", "J2 broadcast dimension join (electrode-region analog)",
      (s, dir) => {
        val n = table(s, dir, "nation")
        rectLong(s, dir)
          .groupBy("channel")
          .agg(count(lit(1)).as("n_samples"), round(avg("value"), 6).as("mean_value"))
          .join(broadcast(n), col("channel") === col("n_nationkey"))
          .select(col("channel"), col("n_name").as("location"),
            col("n_samples"), col("mean_value"))
          .orderBy("channel")
      },
      Some(s"""$EventsRectSql
              |SELECT channel, n_name AS location, count(*) AS n_samples,
              |  round(avg(value), 6) AS mean_value
              |FROM rect JOIN nation ON channel = n_nationkey
              |GROUP BY channel, n_name ORDER BY channel""".stripMargin)),

    QueryDef("q26_band_average", "A4 band averaging (mean over per-channel buckets)",
      (s, dir) => {
        rectLong(s, dir)
          .withColumn("bucket", (col("t_idx") / 100).cast("long"))
          .groupBy("bucket")
          .agg(round(avg("value"), 3).as("mean_value"), count(lit(1)).as("n"))
          .orderBy("bucket")
      },
      Some(s"""$EventsRectSql
              |SELECT CAST(floor(t_idx / 100) AS BIGINT) AS bucket,
              |  round(avg(value), 3) AS mean_value, count(*) AS n
              |FROM rect GROUP BY 1 ORDER BY 1""".stripMargin)))
}
