"""Alternating-pair A/B of bench.py over two checkouts.

Each round is one pair: a bench.py pass (a fresh JVM) in the old
checkout and one in the new, with the side that runs first alternating
from pair to pair, so a host burst that always lands on the same slot
of a pair cannot favour one side. Every pass is appended to
``out_json`` as it finishes; at the end :func:`summarize` reports, for
each query and for the catalog total, each side's median and quartiles,
the pairs won by new, the pairs won by old and the ties, and whether
the gain rule is met:

- at least ``MIN_PAIRS`` pairs are counted;
- new wins at least nine tenths of them (ties count for neither); and
- old's median minus new's median exceeds old's interquartile range.

A query that failed in either pass of a pair (absent from that pass's
``queries``) is left out of that pair's count for the query; a pass
whose total is null (bench.py nulls it when any query fails) is left
out of the total's count. Times are bench.py's compact-line seconds
(two decimals), so pairs closer than 0.01 s are ties.

Usage::

    python tools/ab_runner.py <old_root> <new_root> <rounds> <out_json> <query ...>
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

MIN_PAIRS = 10


def run_pass(root: str, queries: list[str]) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(root, "bench.py"), *queries],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    line = [
        ln for ln in out.stdout.splitlines() if ln.startswith('{"metric"')
    ]
    if not line:
        raise RuntimeError(
            f"no bench line from {root}: {out.stdout[-500:]} {out.stderr[-2000:]}"
        )
    return json.loads(line[-1])


def _spread(xs: list[float]) -> dict:
    if len(xs) == 1:
        return {"median": xs[0], "q1": xs[0], "q3": xs[0]}
    q1, median, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {"median": median, "q1": q1, "q3": q3}


def _compare(pairs: list[tuple[float, float]]) -> dict:
    """Statistics of ``(old, new)`` seconds, one tuple per counted pair."""
    new_wins = sum(new < old for old, new in pairs)
    old_wins = sum(old < new for old, new in pairs)
    out = {
        "pairs": len(pairs),
        "new_wins": new_wins,
        "old_wins": old_wins,
        "ties": len(pairs) - new_wins - old_wins,
        "gain": False,
    }
    if pairs:
        old = _spread([o for o, _ in pairs])
        new = _spread([n for _, n in pairs])
        out.update(old=old, new=new)
        out["gain"] = (
            len(pairs) >= MIN_PAIRS
            and 10 * new_wins >= 9 * len(pairs)
            and old["median"] - new["median"] > old["q3"] - old["q1"]
        )
    return out


def summarize(passes: list[dict]) -> dict:
    """``{"queries": {name: stats}, "total": stats}`` over the pairs of
    ``passes`` (records with ``side``, ``i``, ``total`` and ``queries``)."""
    by_pair: dict[int, dict] = {}
    for p in passes:
        by_pair.setdefault(p["i"], {})[p["side"]] = p
    pairs = [
        (sides["old"], sides["new"])
        for _, sides in sorted(by_pair.items())
        if "old" in sides and "new" in sides
    ]
    names = sorted(
        {q for pair in pairs for p in pair for q in p.get("queries") or {}}
    )
    per_query = {}
    for q in names:
        times = [
            ((o.get("queries") or {}).get(q), (n.get("queries") or {}).get(q))
            for o, n in pairs
        ]
        per_query[q] = _compare(
            [(o, n) for o, n in times if o is not None and n is not None]
        )
    total = _compare([
        (o["total"], n["total"])
        for o, n in pairs
        if o.get("total") is not None and n.get("total") is not None
    ])
    return {"queries": per_query, "total": total}


def _line(name: str, s: dict) -> str:
    text = (
        f"{name}: pairs {s['pairs']} won new/old/tie "
        f"{s['new_wins']}/{s['old_wins']}/{s['ties']}"
    )
    for side in ("old", "new"):
        if side in s:
            m = s[side]
            text += (
                f" {side} median {m['median']:.3f} "
                f"[{m['q1']:.3f}, {m['q3']:.3f}]"
            )
    return text + f" gain {'yes' if s['gain'] else 'no'}"


def main() -> None:
    old_root, new_root, rounds, out_path = (
        sys.argv[1],
        sys.argv[2],
        int(sys.argv[3]),
        sys.argv[4],
    )
    queries = sys.argv[5:]
    record: dict = {"old_root": old_root, "new_root": new_root, "passes": []}
    for i in range(rounds):
        order = (("old", old_root), ("new", new_root))
        if i % 2:
            order = order[::-1]
        for side, root in order:
            res = run_pass(root, queries)
            record["passes"].append(
                {
                    "side": side,
                    "i": i,
                    "total": res.get("value"),
                    "steal_pct": res.get("steal_pct"),
                    "queries": res.get("queries"),
                }
            )
            with open(out_path, "w") as f:
                json.dump(record, f, indent=1)
            print(
                f"pass {i} {side}: total={res.get('value')} "
                f"steal={res.get('steal_pct')}",
                flush=True,
            )
    record["summary"] = summarize(record["passes"])
    for q, s in record["summary"]["queries"].items():
        print(_line(q, s))
    print(_line("total", record["summary"]["total"]))
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
