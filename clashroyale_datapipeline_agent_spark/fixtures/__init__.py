from clashroyale_datapipeline_agent_spark.fixtures.battles import (  # noqa: F401
    generate_leaderboard,
    generate_raw_battles,
    raw_battles_df,
    stub_battlelog,
)
