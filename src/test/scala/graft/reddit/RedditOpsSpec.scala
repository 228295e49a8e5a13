package graft.reddit

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

/** End-to-end replication of the reference's query chains on the
  * synthetic Reddit fixtures (SURVEY.md §5 golden plan: structure and
  * invariants of the data/csv goldens, re-derived since the original
  * inputs are unreachable). */
class RedditOpsSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  lazy val submissions = RedditFixtures.submissions(spark).cache()
  lazy val comments = RedditFixtures.comments(spark).cache()
  lazy val games = RedditFixtures.games(spark).cache()

  test("topSubreddits: skewed fixture puts nba first, respects n") {
    val top = RedditOps.topSubreddits(submissions, 3).collect()
    assert(top.length == 3)
    assert(top.head.getString(0) == "nba")
    assert(top.map(_.getLong(1)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("gameThreads chain: one thread per season date after exclusions (E2)") {
    val gt = RedditOps.gameThreads(submissions, "NYYankees", "Yankeebot",
      "2021-04-01 00:00:00", "2021-10-05 00:00:00", RedditFixtures.postponedIds)
    assert(gt.count() == 187) // one per date 2021-04-01..2021-10-04
    assert(gt.filter(!col("title").contains("Game Thread")).count() == 0)
  }

  test("J1 + J2: games join threads on date, comments join on t3_ link id") {
    val gt = RedditOps.gameThreads(submissions, "NYYankees", "Yankeebot",
      "2021-04-01 00:00:00", "2021-10-05 00:00:00", RedditFixtures.postponedIds)
    val joined = RedditOps.joinGamesToThreads(games, gt)
    assert(joined.count() == gt.count()) // every thread date has a game row
    val withComments = RedditOps.joinCommentsByLinkId(joined, comments)
    assert(withComments.count() == comments.count()) // all comments attach
    // the broadcast hint must survive into the physical plan
    val plan = withComments.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("walk-off collapse: W/W-wo -> W, L/L-wo -> L (Cleaning&Prepping:38)") {
    val got = RedditOps.withGameFeatures(
      RedditOps.joinCommentsByLinkId(
        RedditOps.joinGamesToThreads(games,
          RedditOps.gameThreads(submissions, "NYYankees", "Yankeebot",
            "2021-04-01 00:00:00", "2021-10-05 00:00:00", RedditFixtures.postponedIds)),
        comments))
    assert(got.select("wl").distinct().collect().map(_.getString(0)).toSet == Set("W", "L"))
    assert(got.filter(col("game_length").isNull).count() == 0)
    assert(got.filter(!col("game_location").isin("home", "away")).count() == 0)
  }

  test("outcome aggregates have the yankees_wl.csv shape") {
    val counts = RedditOps.outcomeCounts(games).collect()
    assert(counts.map(_.getString(0)).toSet.subsetOf(Set("W", "L", "W-wo", "L-wo")))
    assert(counts.map(_.getLong(1)).sum == games.count())
  }

  test("player-mention dummies: case-insensitive alternations count correctly") {
    val m = RedditOps.withMentionDummies(comments, Map(
      "aaron_judge" -> "(?i)Aaron Judge|(?i)Judge|(?i)All Rise",
      "gary_sanchez" -> "(?i)Gary Sanchez|(?i)Sanchez|(?i)Kraken"))
    val judged = m.filter(col("has_aaron_judge")).count()
    assert(judged > 0 && judged < comments.count())
    val manual = comments.filter(lower(col("body")).contains("judge")
      || lower(col("body")).contains("all rise")).count()
    assert(judged == manual)
    val ct = RedditOps.mentionCrossTab(m, "aaron_judge", "gary_sanchez")
    assert(ct.agg(sum("count")).head.getLong(0) == comments.count())
  }

  test("authorRunningStats: excludes [deleted], monotone running count") {
    val run = RedditOps.authorRunningStats(submissions)
    assert(run.filter(col("author") === "[deleted]").count() == 0)
    val oneUser = run.filter(col("author") === "user1").orderBy("created_utc")
      .select("num_posts").collect().map(_.getLong(0))
    assert(oneUser.sameElements(oneUser.sorted))
  }

  test("video flag matches the url regex or is_video (project_eda.py:253)") {
    val v = RedditOps.withVideoFlag(submissions)
    val expected = submissions.filter(
      col("url").contains("youtube") || col("is_video")).count()
    assert(v.filter(col("video") === 1).count() == expected)
  }

  test("time features bucket the EST-shifted clock (E1 shape, no UDFs)") {
    val t = RedditOps.withTimeFeatures(submissions, col("created_utc"))
    assert(t.filter(!col("season").isin("winter", "spring", "summer", "fall")).count() == 0)
    val plan = RedditOps.avgScoreByBucket(submissions, "time_of_day")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("udf"))
  }

  test("comment length histogram cumsum ends at total comments") {
    val h = RedditOps.commentLengthHistogram(comments)
    assert(h.orderBy(col("comment_length").desc).select("cum_count").head.getLong(0) == comments.count())
  }

  test("thread comment counts: busiest-first ordering (golden csv shape)") {
    val joined = RedditOps.joinCommentsByLinkId(
      RedditOps.joinGamesToThreads(games,
        RedditOps.gameThreads(submissions, "NYYankees", "Yankeebot",
          "2021-04-01 00:00:00", "2021-10-05 00:00:00", RedditFixtures.postponedIds)),
      comments)
    val counts = RedditOps.threadCommentCounts(joined, "title").collect()
    assert(counts.map(_.getLong(1)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("games CSV round-trips quoted column names with an explicit schema (S3)") {
    // the reference ingests this file via a pandas hop (Data_Gathering.py:113,137);
    // the engine reads CSV with a declared StructType - no inference, no pandas
    val dir = tempDir("graft_games").toString + "/games"
    games.write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(RedditSchema.games).csv(dir)
    assert(back.count() == games.count())
    assert(back.columns.contains("W/L") && back.columns.contains("Unnamed: 4"))
    assert(back.select(col("`W/L`")).distinct().count() ==
      games.select(col("`W/L`")).distinct().count())
  }

  test("nested crosspost column survives the schema (array<struct>)") {
    val exploded = submissions
      .select(col("id"), explode(col("crosspost_parent_list")).as("xp"))
      .select(col("xp.subreddit"))
    assert(exploded.count() > 0)
  }
}
