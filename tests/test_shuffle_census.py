"""Plan-text parsing of the shuffle census (`tools/shuffle_census.py`)."""

from __future__ import annotations

from tools.shuffle_census import plan_exchange_count

# A cached table's nested AdaptiveSparkPlan is drawn with its
# "== Final Plan ==" / "== Initial Plan ==" markers at the column of its
# own `+- ` branch, so a sibling that follows it sits at the marker's
# depth. Exchanges 5 and 16 ran; 8 and 23 belong to Initial Plans.
NESTED_INITIAL_PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (20)
+- == Final Plan ==
   ResultQueryStage (19)
   +- Union (18)
      :- InMemoryTableScan (1)
      :     +- InMemoryRelation (2)
      :           +- AdaptiveSparkPlan (9)
                  +- == Final Plan ==
                     ResultQueryStage (7)
                     +- ShuffleQueryStage (6)
                        +- Exchange (5)
                           +- * Range (3)
                  +- == Initial Plan ==
                     Exchange (8)
                     +- Range (3)
                  +- ShuffleQueryStage (17)
                     +- Exchange (16)
                        +- * Range (15)
+- == Initial Plan ==
   Union (24)
   :- InMemoryTableScan (1)
   +- Exchange (23)
      +- BroadcastExchange (22)
         +- Range (15)


(1) InMemoryTableScan
Output [1]: [id#0L]
"""


def test_sibling_after_nested_initial_plan_is_counted():
    assert plan_exchange_count(NESTED_INITIAL_PLAN) == 2


def test_initial_plan_regions_and_broadcasts_are_skipped():
    final_only = NESTED_INITIAL_PLAN.replace("Exchange (16)", "Project (16)")
    assert plan_exchange_count(final_only) == 1
