"""The FPL domain rules, each written once (reference master.py:177-259).

Every rule is plain arithmetic over a value accessor ``c(name)`` and a
zero-guarded divide ``div(num, den)``, so the batch chain calls them
with ``F.col`` and ``safe_div`` (Column expressions, operators/
pipeline.py) and the streaming fold calls them with a per-match counter
row and ``scalar_div`` (pandas scalars, streaming/pipeline.py). The
module imports nothing else from the package: the stream fold and the
``applyInPandas`` folds reach these functions by reference inside
Python workers, where importing operators/pipeline.py would generate
the fixtures.
"""

from __future__ import annotations

INIT_RATING = 0.5  # master.py:229 (old state None -> 0.5)
FULL_MATCH = 90  # minutes; the reference overwrites time on pitch with it


def scalar_div(num, den):
    """``safe_div`` for Python/numpy scalars: divide-by-zero -> 0.0."""
    return num / den if den else 0.0


def final_metrics(c, div) -> dict:
    """A3 ratios from the per-match counters (master.py:177-212)."""
    return {
        "pass_accuracy": div(
            c("acc_normal_passes") + c("acc_key_passes") * 2,
            c("normal_passes") + c("key_passes") * 2,
        ),
        "duel_effectiveness": div(
            c("duels_won") + c("neutral_duels") * 0.5, c("total_duels")
        ),
        "shot_effectiveness": div(
            c("shots_on_target_goal") + c("shots_on_target_no_goal") * 0.5, c("shots")
        ),
        "free_kick_effectiveness": div(
            c("effective_free_kicks") + c("penalty_goals"), c("free_kicks")
        ),
    }


def performance(c, effectiveness: str = "shot_effectiveness"):
    """The penalized contribution (master.py:230-232). The reference
    averages shot effectiveness; docs/Specs.pdf names free-kick
    effectiveness, which the spec twin passes as ``effectiveness``."""
    contribution = (
        c("pass_accuracy") + c("duel_effectiveness") + c(effectiveness) + c("shots_on_target")
    ) / 4
    return contribution - (0.005 * c("fouls") + 0.05 * c("own_goals")) * contribution


def rating_step(perf, old, top=FULL_MATCH):
    """A5: the next rating (master.py:233-239). A full match takes the
    1.05 path; fewer minutes scale by top/90. The reference always
    passes 90, so only the spec twin reaches the scaled branch."""
    fc = (perf + old) / 2
    return 1.05 * fc if top == FULL_MATCH else (top / 90.0) * fc


def running_mean(new, old):
    """A4's order-dependent pass-accuracy mean (master.py:242-259)."""
    return new if old is None else (new + old) / 2
