"""Output checks against the generators' ground truth.

`check(workload, truth, out, run_state)` returns {op name: [failure messages]}
for one pass; an op with messages counts as failed. The expected values come
from the generator (`gen.py`), never from the program. `run_state` is a dict
shared by the passes of one run and nothing else, for checks that compare
passes (the R2 of a seeded fit must not change between them).
"""
import math

from gen import LIGHT_COLORS, MADE_OF, TYPE_GROUP_OF

R2_FLOOR = {"LinearRegression": 0.3}


def _fail(res, op, msg):
    res.setdefault(op, []).append(msg)


def vehicles(truth, out, run_state):
    res = {}
    t = truth["truth"]
    if out.get("inferred_columns") != 26:
        _fail(res, "sources.csv_load", f"inferred {out.get('inferred_columns')} columns, want 26")

    op = "app.understanding/listingsPerManufacturer"
    got = {r[0]: r[1] for r in out.get("manufacturers", []) if r[0] is not None}
    if got != t["manufacturer_counts"]:
        diff = {k for k in set(got) | set(t["manufacturer_counts"])
                if got.get(k) != t["manufacturer_counts"].get(k)}
        _fail(res, op, f"manufacturer counts differ for {sorted(diff)[:5]}")
    if any(r[0] is None and r[1] != 0 for r in out.get("manufacturers", [])):
        _fail(res, op, "null manufacturer group counted")

    op = "app.understanding/salvageShareByState"
    rows = out.get("salvage_by_state", [])
    want = t["salvage_by_state"]
    total = sum(want.values())
    if {r[0]: r[1] for r in rows} != want:
        _fail(res, op, "salvage counts per state differ")
    for state, n, pct in rows:
        if abs(pct - 100.0 * want.get(state, 0) / total) > 0.006:
            _fail(res, op, f"salvage share of {state} is {pct}")

    # R2: inside the band the planted signal allows, and the same on every
    # pass of the run
    ceiling = t["r2_ceiling"]
    fits = out.get("fits", {})
    if sorted(fits) != sorted(R2_FLOOR):
        _fail(res, "ml.price_metrics", f"fitted models {sorted(fits)}, want {sorted(R2_FLOOR)}")
    for name, fit in fits.items():
        op = "ml.price_metrics"
        r2 = fit["r2"]
        if not (isinstance(r2, float) and math.isfinite(r2) and R2_FLOOR[name] <= r2 <= ceiling + 0.05):
            _fail(res, op, f"R2 {r2} outside [{R2_FLOOR[name]}, {ceiling + 0.05:.3f}]")
        seen = run_state.setdefault("r2", {}).setdefault(name, r2)
        if abs(seen - r2) > 1e-6:
            _fail(res, op, f"R2 {r2} differs from an earlier pass of this run ({seen})")

    recs = out.get("recommend", [])
    for i, (q, rows) in enumerate(zip(t["recommend_queries"], recs)):
        op = f"app.recommend/{i}"
        if len(rows) > 5:
            _fail(res, op, f"{len(rows)} rows, want at most 5")
        for r in rows:
            price, made, manufacturer, typ, color = r[0], r[1], r[2], r[4], r[11]
            ok = (price.isdigit() and q["price_lo"] <= int(price) <= q["price_hi"]
                  and made == q["made"] and MADE_OF.get(manufacturer) == q["made"]
                  and TYPE_GROUP_OF.get(typ) == q["type_group"]
                  and ("light color" if color in LIGHT_COLORS else "dark color") == q["color_group"])
            if not ok:
                _fail(res, op, f"row {r[:5]} does not satisfy {q}")
    if recs and not any(recs):
        _fail(res, "app.recommend/0", "every recommendation came back empty")
    return res


def intake(truth, out, run_state):
    res = {}
    t = truth["truth"]
    dec = out.get("decisions", {})
    op = "operators.intake_decisions"
    n = sum(len(v) for v in dec.values())
    if n != t["candidates"]:
        _fail(res, op, f"{n} decisions, want one per candidate ({t['candidates']})")
    for reason, key in (("duplicate", "expect_duplicate"), ("contaminated", "expect_contaminated")):
        marked = set(dec.get(reason, []))
        missed = [d for d in t[key] if d not in marked]
        if missed:
            _fail(res, op, f"{len(missed)} of {len(t[key])} planted docs not marked {reason}, e.g. {missed[:3]}")
    if not out.get("verified_pairs"):
        _fail(res, "operators.minhash_pairs", "no near-duplicate pairs verified")
    if out.get("component_nodes") != out.get("pair_nodes"):
        _fail(res, "operators.connected_components",
              f"{out.get('component_nodes')} labelled nodes, pair graph has {out.get('pair_nodes')}")
    return res


CHECKS = {"vehicles": vehicles, "intake": intake}


def check(workload, truth, out, run_state):
    return CHECKS[workload](truth, out, run_state)
