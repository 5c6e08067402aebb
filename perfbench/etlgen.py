"""Seeded inputs for the etl_batch workload.

Writes the three CSVs `graft.examples.FactCustomerTask` reads, for
`len(dates)` report-date batches of `n` customers each, with data-quality
faults planted at fixed shares, and returns the output the task must
produce: fact rows per date and DQ rows per (date, source, priority,
category).

Planted faults (shares of the customers of each batch):
  birthday missing, unparseable, or in the future;
  blood group missing (no row at all, or a validity window that has
  closed before the later dates);
  blood group not in the valid list;
  duplicate lookup keys: two rows valid at once, where the first row in
  file order wins -- half of the pairs lead with a valid group, half with
  an invalid one.
"""
import csv
import datetime
import os
import random

VALID_GROUPS = ["A+", "A-", "B+", "B-", "AB+", "AB-", "O+", "O-"]
INVALID_GROUPS = ["C+", "X-", "ZZ"]

BIRTHDAY_SHARES = {"missing": 0.04, "unparseable": 0.03, "future": 0.02}
BLOOD_SHARES = {"absent": 0.03, "closing": 0.02, "invalid": 0.03,
                "dup_valid_first": 0.015, "dup_invalid_first": 0.015}

OPEN_START, OPEN_END = "2000-01-01", "2100-01-01"


def report_dates(k):
    first = datetime.date(2024, 1, 31)
    return [(first + datetime.timedelta(days=7 * i)).isoformat() for i in range(k)]


def _assign(rng, n, shares):
    """Exact share counts on random, disjoint customer indices."""
    idx = list(range(n))
    rng.shuffle(idx)
    out, at = {}, 0
    for kind, share in shares.items():
        c = round(n * share)
        for i in idx[at:at + c]:
            out[i] = kind
        at += c
    return out


def _bump(counts, key, by=1):
    counts[key] = counts.get(key, 0) + by


def generate(seed, out_dir, n, dates):
    """Write the CSVs under `out_dir`; return (fact, dq) planted counts."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    names = [f"Customer {i:06d}" for i in range(n)]
    blood_kind = _assign(rng, n, BLOOD_SHARES)
    closing_end = dates[len(dates) // 2]

    # customer blood groups: one open row each, shuffled; the second row
    # of each duplicate pair is appended after all first rows
    rows, seconds = [], []
    group_at = {}  # name -> [(start, end, group)] in file order
    for i, name in enumerate(names):
        kind = blood_kind.get(i)
        if kind == "absent":
            continue
        good = rng.choice(VALID_GROUPS)
        bad = rng.choice(INVALID_GROUPS)
        end = closing_end if kind == "closing" else OPEN_END
        first = bad if kind in ("invalid", "dup_invalid_first") else good
        rows.append((OPEN_START, end, name, first))
        if kind == "dup_valid_first":
            seconds.append((OPEN_START, OPEN_END, name, bad))
        elif kind == "dup_invalid_first":
            seconds.append((OPEN_START, OPEN_END, name, good))
    rng.shuffle(rows)
    with open(os.path.join(out_dir, "customer_blood_groups.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["start_date", "end_date", "name", "blood_group"])
        w.writerows(rows + seconds)
    with open(os.path.join(out_dir, "valid_blood_groups.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["blood_group"])
        w.writerows([g] for g in VALID_GROUPS)

    fact, dq = {}, {}
    with open(os.path.join(out_dir, "customers.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["report_date", "name", "birthday"])
        for d in dates:
            bday_kind = _assign(rng, n, BIRTHDAY_SHARES)
            for i, name in enumerate(names):
                kind = bday_kind.get(i)
                if kind == "missing":
                    bday = ""
                elif kind == "unparseable":
                    bday = f"{rng.randint(1940, 2000)}-13-{rng.randint(1, 28):02d}"
                elif kind == "future":
                    bday = f"{rng.randint(2090, 2099)}-{rng.randint(1, 12):02d}-01"
                else:
                    bday = (datetime.date(1930, 1, 1) +
                            datetime.timedelta(days=rng.randrange(27000))).isoformat()
                w.writerow([d, name, bday])
                _bump(fact, d)
                if kind == "missing":
                    _bump(dq, f"{d}|source|medium|missing")
                elif kind in ("unparseable", "future"):
                    _bump(dq, f"{d}|source|high|incorrect")
                if kind is not None:
                    _bump(dq, f"{d}|transform|medium|missing")
                bkind = blood_kind.get(i)
                if bkind == "absent" or (bkind == "closing" and d >= closing_end):
                    _bump(dq, f"{d}|source|medium|missing")
                elif bkind in ("invalid", "dup_invalid_first"):
                    _bump(dq, f"{d}|source|high|incorrect")
    return fact, dq


def brute_force_counts(out_dir, dates):
    """Recount the expected output from the written CSVs alone, by
    applying the task's rules row by row (independent of `generate`)."""
    with open(os.path.join(out_dir, "valid_blood_groups.csv")) as f:
        valid = {r["blood_group"] for r in csv.DictReader(f)}
    with open(os.path.join(out_dir, "customer_blood_groups.csv")) as f:
        blood = list(csv.DictReader(f))
    fact, dq = {}, {}
    with open(os.path.join(out_dir, "customers.csv")) as f:
        customers = list(csv.DictReader(f))
    for d in dates:
        first = {}
        for r in blood:  # first row in file order valid at d wins
            if r["start_date"] <= d < r["end_date"] and r["name"] not in first:
                first[r["name"]] = r["blood_group"]
        rd = datetime.date.fromisoformat(d)
        for c in customers:
            if c["report_date"] != d:
                continue
            _bump(fact, d)
            b = c["birthday"]
            try:
                parsed = datetime.datetime.strptime(b, "%Y-%m-%d").date() if b else None
            except ValueError:
                parsed = None
            if not b:
                _bump(dq, f"{d}|source|medium|missing")
            elif parsed is None or parsed > rd:
                _bump(dq, f"{d}|source|high|incorrect")
            if parsed is None or parsed > rd:
                _bump(dq, f"{d}|transform|medium|missing")
            g = first.get(c["name"])
            if g is None:
                _bump(dq, f"{d}|source|medium|missing")
            elif g not in valid:
                _bump(dq, f"{d}|source|high|incorrect")
    return fact, dq
