#!/usr/bin/env python3
"""Pick the batch workload's queries from the catalog profile.

    python3 perfbench/pick_queries.py [perfbench/refs/profile-sf0.1.tsv]

`run.py --profile` writes the profile: every catalog query, a cold pass
and then the median of two warm passes. The rule:

- typical queries: for each of the workload's families, the query whose
  warm wall time is the family's median (the lower one for an even
  count);
- one carrier of the cost the workload isolates: the query with the
  largest constructor share of its wall time among queries whose
  constructor runs Spark jobs (the constructor localCheckpoint pattern
  of the iterative loops).

Prints the picks as the Scala lists Batch.scala holds, then, per pick,
its share of its family's constructor time, task time and held storage.
Held storage is what a query left in the BlockManager; a negative
reading (the cleaner freed earlier blocks during the query) counts as 0.
"""
import sys

FAMILIES = {
    "batch-overhead": ["rel", "join", "agg", "over", "tw", "pat", "fn", "mm", "emb", "graph"],
}


def load(path):
    rows = []
    with open(path) as fh:
        for line in fh:
            if line.startswith("#") or not line.strip():
                continue
            f = line.rstrip("\n").split("\t")
            rows.append({"name": f[0], "family": f[0].split("_")[0], "wall": float(f[2]),
                         "ctor": float(f[3]), "task": float(f[6]), "ctor_jobs": float(f[8]),
                         "held": max(0.0, float(f[10]))})
    return rows


def pick(rows, workload):
    fams = FAMILIES[workload]
    picks = []
    for fam in fams:
        qs = sorted((r for r in rows if r["family"] == fam), key=lambda r: (r["wall"], r["name"]))
        picks.append((qs[(len(qs) - 1) // 2], "typical"))
    pool = [r for r in rows if r["family"] in fams and r not in [p for p, _ in picks]
            and r["ctor_jobs"] > 0]
    carrier = max(pool, key=lambda r: r["ctor"] / r["wall"])
    picks.append((carrier, "carrier"))
    return picks


def share(x, total):
    return f"{100 * x / total:.0f} %" if total > 0 else "-"


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else "perfbench/refs/profile-sf0.1.tsv"
    rows = load(path)
    for workload in FAMILIES:
        picks = pick(rows, workload)
        names = [p["name"] for p, _ in picks]
        print(f"{workload}: Seq(" + ", ".join(f'"{n}"' for n in names) + ")")
        print(f"  warm pass {sum(p['wall'] for p, _ in picks) / 1000:.2f} s of "
              f"{sum(r['wall'] for r in rows if r['family'] in FAMILIES[workload]) / 1000:.1f} s for the families")
        print("| pick | role | wall ms | ctor ms (jobs) | task ms | share of family ctor / task / held |")
        print("|---|---|---|---|---|---|")
        for p, role in picks:
            fam = [r for r in rows if r["family"] == p["family"]]
            tot = {k: sum(r[k] for r in fam) for k in ("ctor", "task", "held")}
            print(f"| {p['name']} | {role} | {p['wall']:.0f} | {p['ctor']:.0f} ({p['ctor_jobs']:.0f}) | "
                  f"{p['task']:.0f} | {share(p['ctor'], tot['ctor'])} / {share(p['task'], tot['task'])} / "
                  f"{share(p['held'], tot['held'])} |")
        fams = [r for r in rows if r["family"] in FAMILIES[workload]]
        sel = [p for p, _ in picks]
        print("| all picks | | | | | " + " / ".join(
            share(sum(r[k] for r in sel), sum(r[k] for r in fams)) for k in ("ctor", "task", "held"))
            + " of the workload's families |")
        print()


if __name__ == "__main__":
    main()
