"""Seeded banking-CSV generator for the pipeline workload.

Row shapes, dirty values and the branch list come from
``tools/gen_banking_csv.py`` (imported, not copied): two-digit-year and
mixed-format dates, currency-decorated amounts, null sentinels,
mixed-case enums, quoted commas and about 1% duplicate customer PKs.
What this module adds is a seed and the set of distinct PKs written
per entity, which the benchmark's output check compares with
production.
"""

from __future__ import annotations

import csv
import random
from pathlib import Path

from gen_banking_csv import STATES, _amount, _date, _maybe

# Reference volume (BASELINE.md): 25 branches, 5,022 customers, 2,006
# loans, 100,004 transactions per 1x.
BASE_ROWS = {"customers": 5022, "loans": 2006, "transactions": 100_004}
N_BRANCHES = 25


def write_snapshot(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """Write ``{entity}_1.csv`` for the four entities, ``scale`` times
    the reference volume. Returns ``{"rows": {entity: csv rows},
    "bytes": csv bytes, "pks": {entity: set of distinct PKs}}``.
    """
    rng = random.Random(seed)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    n = {e: int(b * scale) for e, b in BASE_ROWS.items()}
    cust = range(1, n["customers"] + 1)
    pks: dict[str, set[str]] = {}
    rows: dict[str, int] = {}

    def table(entity: str, header: list[str], body) -> None:
        with open(out / f"{entity}_1.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            pks[entity], rows[entity] = set(), 0
            for row in body:
                w.writerow(row)
                pks[entity].add(row[0])
                rows[entity] += 1

    table("branches",
          ["branch_id", "branch_name", "city", "state", "manager_name"],
          ([f"QT{i:04d}",
            rng.choice([f"Branch {i}", f"Viswanathan, Singh and B{i} Branch"]),
            f"city {i}", rng.choice(STATES),
            _maybe(rng, f"manager {i}", 0.05)]
           for i in range(1, N_BRANCHES + 1)))
    table("customers",
          ["customer_id", "branch_id", "first_name", "last_name", "dob",
           "gender", "email", "phone", "address", "account_open_date"],
          ([str(i if rng.random() > 0.01 else max(1, i - 1)),
            _maybe(rng, f"QT{rng.randint(1, N_BRANCHES):04d}"),
            f"first{i}", f"last{i}", _maybe(rng, _date(rng)),
            rng.choice(["M", "F", "male", "Female", "f", "NaN", "x"]),
            f"USER{i}@Example.COM",
            f"{rng.randint(6_000_000_000, 9_999_999_999)}",
            f"{rng.randint(1, 99)}/{rng.randint(100, 999)}, "
            f"Nagar-{rng.randint(100000, 999999)}",
            _maybe(rng, _date(rng))]
           for i in cust))
    table("loans",
          ["loan_id", "customer_id", "loan_type", "loan_amount",
           "interest_rate", "start_date", "end_date", "loan_status"],
          ([str(i), str(rng.choice(cust)),
            rng.choice(["Car", "Education", "home", "Personal"]),
            _maybe(rng, _amount(rng, 10_000, 900_000)),
            f"{rng.uniform(5, 14):.2f}", _maybe(rng, _date(rng)),
            _maybe(rng, _date(rng)),
            _maybe(rng, rng.choice(["Active", "Closed", "Default"]), 0.05)]
           for i in range(1, n["loans"] + 1)))
    table("transactions",
          ["transaction_id", "customer_id", "transaction_date",
           "transaction_type", "amount", "balance_after", "fraud_flag"],
          ([str(i), str(rng.choice(cust)), _date(rng),
            rng.choice(["deposit", "Withdrawal", "TRANSFER", "payment"]),
            _amount(rng, 10, 50_000), _amount(rng, 0, 200_000),
            rng.choice(["true", "1", "yes", "no", "0", "FALSE", ""])]
           for i in range(1, n["transactions"] + 1)))
    size = sum(p.stat().st_size for p in out.glob("*_1.csv"))
    return {"rows": rows, "bytes": size, "pks": pks}
