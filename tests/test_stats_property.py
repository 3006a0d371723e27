"""Hypothesis property tests for the inferential-statistics tier.

The sf0.001 pins (test_stats.py) check one fixed corpus; these drive
RANDOM micro-corpora — heavy ties, tiny groups, degenerate variances —
through the Spark operators and compare against independent
numpy/pandas formulas, so edge cases the fixed corpus never exercises
(guard branches, all-tied ranks, single-member strata) are covered.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

pytestmark = pytest.mark.slow  # randomized armor — excluded from the driver's timed gate
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)


def _close(a, b, tol=1e-3):
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def _write_events(tmp, df):
    df.to_parquet(tmp / "events.parquet")
    return str(tmp)


@pytest.mark.parametrize("seed", [0])
def test_events_stats_random(spark, tmp_path_factory, seed):
    @settings(**_SETTINGS)
    @given(data=st.data())
    def run(data):
        n = data.draw(st.integers(30, 120))
        types = data.draw(
            st.sampled_from(
                [
                    ["purchase", "click"],
                    ["purchase", "click", "error"],
                    ["purchase", "click", "view", "signup"],
                ]
            )
        )
        # cent-grid values with deliberate tie mass
        vals = data.draw(
            st.lists(
                st.integers(0, 40), min_size=n, max_size=n
            )
        )
        tlist = data.draw(
            st.lists(
                st.sampled_from(types), min_size=n, max_size=n
            )
        )
        hours = data.draw(
            st.lists(st.integers(0, 71), min_size=n, max_size=n)
        )
        ev = pd.DataFrame(
            {
                "event_id": range(n),
                "ts": pd.Timestamp("2024-03-01")
                + pd.to_timedelta(hours, unit="h")
                + pd.to_timedelta(range(n), unit="s"),
                "user_id": [i % 7 for i in range(n)],
                "event_type": tlist,
                "value": [v / 100.0 * 25 for v in vals],  # cent grid
                "props": ["{}"] * n,
            }
        )
        tmp = tmp_path_factory.mktemp("evp")
        sf = _write_events(tmp, ev)

        # --- conversion z-test (24h fast activation) ---
        row = (
            QUERIES["events_conversion_ztest"](spark, sf)
            .toPandas()
            .iloc[0]
        )
        first = ev.groupby("user_id")["ts"].min()
        conv = {}
        for u, grp in ev.groupby("user_id"):
            pur = grp.loc[grp.event_type == "purchase", "ts"]
            conv[u] = int(
                (pur < first[u] + pd.Timedelta(hours=24)).any()
            )
        n_a = sum(1 for u in conv if u % 2 == 0)
        x_a = sum(v for u, v in conv.items() if u % 2 == 0)
        n_b = len(conv) - n_a
        x_b = sum(conv.values()) - x_a
        assert row["n_a"] == n_a and row["x_a"] == x_a
        assert row["n_b"] == n_b and row["x_b"] == x_b
        if n_a and n_b:
            pool = (x_a + x_b) / (n_a + n_b)
            se2 = pool * (1 - pool) * (1 / n_a + 1 / n_b)
            if se2 > 0:
                z = (x_a / n_a - x_b / n_b) / math.sqrt(se2)
                assert _close(row["z_stat"], z)
            else:
                assert pd.isna(row["z_stat"])

    run()


@pytest.mark.parametrize("seed", [0])
def test_documents_stats_random(spark, tmp_path_factory, seed):
    @settings(**_SETTINGS)
    @given(data=st.data())
    def run(data):
        n = data.draw(st.integers(12, 60))
        langs = data.draw(
            st.sampled_from([["en", "fr"], ["en", "fr", "de"]])
        )
        n_src = data.draw(st.integers(2, 4))
        lang_col = data.draw(
            st.lists(st.sampled_from(langs), min_size=n, max_size=n)
        )
        src_col = data.draw(
            st.lists(
                st.integers(0, n_src - 1), min_size=n, max_size=n
            )
        )
        chars = data.draw(
            st.lists(st.integers(5, 400), min_size=n, max_size=n)
        )
        docs = pd.DataFrame(
            {
                "doc_id": range(n),
                "text": ["alpha beta gamma delta"] * n,
                "lang": lang_col,
                "source": [f"s{i}" for i in src_col],
                "n_chars": chars,
            }
        )
        tmp = tmp_path_factory.mktemp("docp")
        docs.to_parquet(tmp / "documents.parquet")
        sf = str(tmp)

        # --- ANOVA ---
        row = QUERIES["doc_anova_length"](spark, sf).toPandas().iloc[0]
        groups = [
            g.to_numpy(float)
            for _, g in docs.groupby("lang")["n_chars"]
        ]
        k = len(groups)
        assert row["n_docs"] == n and row["n_groups"] == k
        grand = np.concatenate(groups).mean()
        ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
        ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
        if k > 1 and ssw > 0:
            f = (ssb / (k - 1)) / (ssw / (n - k))
            assert _close(row["f_stat"], f)
        else:
            assert pd.isna(row["f_stat"])

        # --- chi-square ---
        row = (
            QUERIES["corpus_chi2_independence"](spark, sf)
            .toPandas()
            .iloc[0]
        )
        ct = pd.crosstab(docs["lang"], docs["source"]).to_numpy(float)
        exp = np.outer(ct.sum(1), ct.sum(0)) / ct.sum()
        chi2 = ((ct - exp) ** 2 / exp).sum()
        assert row["n_docs"] == n
        assert row["dof"] == (ct.shape[0] - 1) * (ct.shape[1] - 1)
        assert _close(row["chi2"], chi2)

    run()


@pytest.mark.parametrize("seed", [0])
def test_events_profile_random(spark, tmp_path_factory, seed):
    """Random micro-corpora through the traffic-shape tier: hour-of-day
    concentration — a pandas/numpy mirror, heavy ties and single-hour
    types included."""

    @settings(**_SETTINGS)
    @given(data=st.data())
    def run(data):
        n = data.draw(st.integers(30, 120))
        types = data.draw(
            st.sampled_from(
                [["purchase", "click"], ["purchase", "click", "error"]]
            )
        )
        tlist = data.draw(
            st.lists(st.sampled_from(types), min_size=n, max_size=n)
        )
        hours = data.draw(
            st.lists(st.integers(0, 71), min_size=n, max_size=n)
        )
        vals = data.draw(
            st.lists(st.integers(0, 40), min_size=n, max_size=n)
        )
        ev = pd.DataFrame(
            {
                "event_id": range(n),
                "ts": pd.Timestamp("2024-03-01")
                + pd.to_timedelta(hours, unit="h")
                + pd.to_timedelta(range(n), unit="s"),
                "user_id": [i % 7 for i in range(n)],
                "event_type": tlist,
                "value": [v / 100.0 * 25 for v in vals],
                "props": ["{}"] * n,
            }
        )
        tmp = tmp_path_factory.mktemp("evs")
        sf = _write_events(tmp, ev)

        # --- hour concentration: entropy + deterministic argmax ---
        df = (
            QUERIES["events_hour_concentration"](spark, sf)
            .toPandas()
            .set_index("event_type")
        )
        for et in set(tlist):
            hod = ev.loc[ev.event_type == et, "ts"].dt.hour
            cnt = hod.value_counts()
            total = cnt.sum()
            p = cnt.to_numpy(float) / total
            ent = float(-(p * np.log2(p)).sum())
            peak = min(
                cnt.index[cnt == cnt.max()]
            )  # ties -> earliest hour
            row = df.loc[et]
            assert row["active_hods"] == len(cnt)
            assert row["peak_hod"] == peak
            assert _close(row["peak_share"], cnt.max() / total)
            assert _close(row["hod_entropy"], ent)

    run()


@pytest.mark.parametrize("seed", [0])
def test_causal_tier_random(spark, tmp_path_factory, seed):
    """Random micro-corpora through the causal/robust tier: QTE against
    numpy quantiles — degenerate arms and tiny periods included."""

    @settings(**_SETTINGS)
    @given(data=st.data())
    def run(data):
        n = data.draw(st.integers(40, 120))
        vals = data.draw(
            st.lists(st.integers(0, 40), min_size=n, max_size=n)
        )
        days = data.draw(
            st.lists(st.integers(0, 5), min_size=n, max_size=n)
        )
        users = data.draw(
            st.lists(st.integers(0, 9), min_size=n, max_size=n)
        )
        ev = pd.DataFrame(
            {
                "event_id": range(n),
                "ts": pd.Timestamp("2024-03-01")
                + pd.to_timedelta(days, unit="D")
                + pd.to_timedelta(range(n), unit="s"),
                "user_id": users,
                "event_type": ["view"] * n,
                "value": [v / 100.0 * 25 for v in vals],
                "props": ["{}"] * n,
            }
        )
        tmp = tmp_path_factory.mktemp("evc")
        sf = _write_events(tmp, ev)

        treat = (ev["user_id"] % 2 == 0).to_numpy()

        # --- QTE ---
        rel = (
            QUERIES["events_quantile_treatment_effect"](spark, sf)
            .toPandas()
            .set_index("q")
        )
        if treat.sum() > 0 and (~treat).sum() > 0:
            for q in rel.index:
                qt = np.quantile(ev.loc[treat, "value"], q)
                qc = np.quantile(ev.loc[~treat, "value"], q)
                assert _close(rel.loc[q, "qte"], qt - qc)

    run()


@pytest.mark.parametrize("seed", [0])
def test_forecast_and_dp_random(spark, tmp_path_factory, seed):
    """Random sparse hourly series through the DP hourly release
    (noise bound + determinism) — gap-heavy calendars the fixed corpus
    never has."""

    @settings(**_SETTINGS)
    @given(data=st.data())
    def run(data):
        n = data.draw(st.integers(30, 90))
        hours = data.draw(
            st.lists(st.integers(0, 47), min_size=n, max_size=n)
        )
        types = data.draw(
            st.lists(
                st.sampled_from(["view", "click"]),
                min_size=n,
                max_size=n,
            )
        )
        ev = pd.DataFrame(
            {
                "event_id": range(n),
                "ts": pd.Timestamp("2024-03-01")
                + pd.to_timedelta(hours, unit="h"),
                "user_id": [i % 5 for i in range(n)],
                "event_type": types,
                "value": [1.0] * n,
                "props": ["{}"] * n,
            }
        )
        tmp = tmp_path_factory.mktemp("evf")
        sf = _write_events(tmp, ev)

        # --- DP hourly: bounded noise, deterministic replay ---
        dp = (
            QUERIES["events_dp_hourly"](spark, sf)
            .toPandas()
            .sort_values(["hour", "event_type"])
            .reset_index(drop=True)
        )
        true = (
            ev.assign(hour=ev["ts"].dt.floor("h"))
            .groupby(["hour", "event_type"])
            .size()
            .reset_index(name="tn")
            .sort_values(["hour", "event_type"])
            .reset_index(drop=True)
        )
        assert len(dp) == len(true)
        bound = math.log(2.0**32) + 1.0
        assert (dp["dp_count"] >= 0).all()
        assert (
            (dp["dp_count"] - true["tn"]).abs() <= bound
        ).all()
        again = (
            QUERIES["events_dp_hourly"](spark, sf)
            .toPandas()
            .sort_values(["hour", "event_type"])
            .reset_index(drop=True)
        )
        assert (
            again["dp_count"].to_numpy() == dp["dp_count"].to_numpy()
        ).all()

    run()
