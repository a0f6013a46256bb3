from clashroyale_datapipeline_agent_spark.functions.common import (  # noqa: F401
    advantage_label,
    flip_result,
    win_rate,
)
from clashroyale_datapipeline_agent_spark.functions.cards import classify_deck_col  # noqa: F401
from clashroyale_datapipeline_agent_spark.functions.classify_oracle import (  # noqa: F401
    classify_deck_oracle,
)
