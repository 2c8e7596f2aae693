"""Seeded POS export generator.

Every export is a list of raw rows in the sheet's column order
(``RAW_COLUMNS``) ending in one totals footer row, written either as a
landing CSV or as a real ``.xlsx`` with the sheet ``Paid order list``.

Properties the workloads rely on:

- orders cycle through every non-footer template of
  ``plans.pos_fixture.POS_ROWS``, so every kernel branch (targets,
  flavours, sugar/spice levels, corrections, unmapped items, P4 drops,
  payment sentinels) appears in every export;
- order IDs are zero-padded (``ORD000000123``) and increase day by day,
  so a day's fresh orders occupy a key range above all history;
- ``resend_frac`` of each export re-sends orders verbatim from earlier
  exports (the key range of the batch then spans the whole history);
- ``quarantine_frac`` of the fresh orders carry negative amounts and
  are routed to quarantine by the validation split;
- the same seed gives byte-identical exports.
"""

from __future__ import annotations

import csv
import datetime
import os
import random

from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.pos_fixture import POS_ROWS
from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.pos_kernel import RAW_COLUMNS
from amante_s_supabase_full_cloud_etl_pipeline_spark.sources.xlsx import write_minimal_xlsx

TEMPLATES = tuple(r for r in POS_ROWS if r[0] is not None)
SHEET = "Paid order list"
EPOCH = datetime.datetime(2026, 1, 1)
_SENTINELS = ("-", "0", "0.00")


def _money(cents: int, commas: bool) -> str:
    return f"{cents / 100:,.2f}" if commas else f"{cents / 100:.2f}"


class ExportGenerator:
    """Stateful generator: remembers issued orders so later exports can
    re-send them, and the next order sequence number."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_seq = 0
        self.history: list[tuple] = []

    def _order(self, day: int, quarantine: bool) -> tuple:
        seq = self.next_seq
        self.next_seq += 1
        t = TEMPLATES[seq % len(TEMPLATES)]
        _oid, channel, products, _amt, _recv, cash, gcash, _ts = t
        cents = self.rng.randrange(5_000, 250_000, 25)
        if quarantine:
            cents = -cents
        amount = _money(cents, commas=self.rng.random() < 0.5)
        received = _money(cents + self.rng.choice((0, 0, 0, 2_000)), commas=False)
        if cash not in _SENTINELS:
            cash = _money(abs(cents), commas=False)
        if gcash not in _SENTINELS:
            gcash = _money(abs(cents), commas=False)
        ts = EPOCH + datetime.timedelta(
            days=day, seconds=self.rng.randrange(7 * 3600, 21 * 3600)
        )
        return (
            f"ORD{seq:09d}",
            channel,
            products,
            amount,
            received,
            cash,
            gcash,
            ts.strftime("%Y-%m-%d %H:%M:%S"),
        )

    def export(
        self,
        day: int,
        n_orders: int,
        resend_frac: float = 0.0,
        quarantine_frac: float = 0.0,
    ) -> list[tuple]:
        """One day's export: fresh orders, re-sent earlier orders
        (shuffled in), then one totals footer row."""
        n_resend = int(round(n_orders * resend_frac)) if self.history else 0
        fresh = [
            self._order(day, self.rng.random() < quarantine_frac)
            for _ in range(n_orders - n_resend)
        ]
        resent = self.rng.sample(self.history, n_resend) if n_resend else []
        rows = fresh + resent
        self.rng.shuffle(rows)
        self.history.extend(fresh)
        total = sum(float(r[3].replace(",", "")) for r in rows)
        return rows + [(None, None, None, f"{total:,.2f}", None, None, None, None)]


def write_csv(path: str, rows: list[tuple]) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(RAW_COLUMNS)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])
    return path


def write_xlsx(path: str, rows: list[tuple]) -> str:
    return write_minimal_xlsx(path, SHEET, [list(RAW_COLUMNS)] + [list(r) for r in rows])
