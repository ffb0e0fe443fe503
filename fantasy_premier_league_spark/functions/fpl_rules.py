"""The FPL domain rules, each written once (reference master.py:177-259).

The A3 ratios and the A5 contribution are plain arithmetic over a value
accessor ``c(name)`` and a zero-guarded divide ``div(num, den)``: the
batch chain passes ``F.col`` and ``safe_div`` (Columns, operators/
pipeline.py), the stream a per-match frame's ``__getitem__`` and
``series_div`` (pandas Series, streaming/pipeline.py). The sequential
A4+A5 part is one per-player fold, ``fold_player``, which the batch
chain runs from ``INIT_STATE`` and the stream from each player's stored
state.

The module imports nothing else from the package: the Python workers
reach it by reference, where importing operators/pipeline.py would
generate the fixtures.
"""

from __future__ import annotations

import math
from itertools import repeat

import pandas as pd

INIT_RATING = 0.5  # master.py:229 (old state None -> 0.5)
FULL_MATCH = 90  # minutes; the reference overwrites time on pitch with it

# one player's fold state, laid out as the stream's RATING_STATE_SCHEMA:
# (rating, pa_mean, fouls, goals, own_goals, shots, last_match)
INIT_STATE = (INIT_RATING, None, 0, 0, 0, 0, -1)

# the per-match counters the profile sums, in the state's order
PROFILE_COUNTS = ("fouls", "goals", "own_goals", "shots_on_target")

# the columns fold_player adds to each folded match row
FOLD_COLS = (
    "rating", "delta", "pass_accuracy_mean", *(f"{c}_total" for c in PROFILE_COUNTS)
)


def series_div(num, den):
    """``safe_div`` for pandas Series: divide-by-zero -> 0.0."""
    return (num / den).where(den != 0, 0.0)


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


def win_chance(s1, total):
    """A10: team1's winning chance in percent from its strength and the
    two teams' total (ui.py:66-70); team2's is 100 minus it. Floats or
    Columns, like ``performance``."""
    return (0.5 + s1 - total / 2) * 100


def running_mean(new, old):
    """A4's order-dependent pass-accuracy mean (master.py:242-259)."""
    return new if old is None else (new + old) / 2


def fold_player(matches: pd.DataFrame, state: tuple = INIT_STATE) -> tuple:
    """A4+A5 for one player from ``state`` (updatePlayerRating
    master.py:214-239, getPlayerProfile master.py:242-259).

    ``matches`` has one row per match in matchId order: ``matchId``,
    ``perf`` (NaN without a roster span), an optional ``top`` (minutes;
    a full match without it), ``pass_accuracy`` and the PROFILE_COUNTS.
    A match at or below the state's ``last_match`` is skipped, so a
    replayed match folds once and one that arrives after a later match
    is dropped, where the batch chain would sort it in: stream and
    batch agree only when matches arrive in matchId order. Only a row
    with a roster span takes a rating step (the reference's J2 inner
    join, master.py:367); one without keeps the rating and gets a null
    ``delta``, leaving it out of the rating trace. Every row advances
    the profile. Returns the folded rows (``matches`` plus FOLD_COLS)
    and the new state.
    """
    rating, pa_mean, *totals, last_match = state
    tops = matches["top"].tolist() if "top" in matches else repeat(FULL_MATCH)
    kept, out = [], []
    cols = (matches[c].tolist() for c in ("perf", "pass_accuracy", *PROFILE_COUNTS))
    rows = zip(matches["matchId"].tolist(), tops, *cols)
    for i, (match_id, top, perf, pass_accuracy, *counts) in enumerate(rows):
        if match_id <= last_match:
            continue
        delta = None
        if not math.isnan(perf):
            new = rating_step(perf, rating, top)
            delta = new - rating
            rating = new
        pa_mean = running_mean(pass_accuracy, pa_mean)
        totals = [t + n for t, n in zip(totals, counts)]
        last_match = match_id
        kept.append(i)
        out.append((rating, delta, pa_mean, *totals))
    folded = matches.iloc[kept]
    out = pd.DataFrame(out, columns=FOLD_COLS, index=folded.index)
    return pd.concat([folded, out], axis=1), (rating, pa_mean, *totals, last_match)
