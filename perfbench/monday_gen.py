"""Seeded generator of Monday-shaped boards, with the outputs the ETL must produce.

A ``MondayWorld`` holds one projects board (items with nested subitems) and
the three cost boards, and evolves them one simulated day at a time: a share
of subitems change revenue, a few are added and a few removed, so the
day-over-day comparison never reads zero. Each day is served as GraphQL
``items_page`` responses of 100 items, chained by cursor.

Cells carry the dirty values the reference's transform tolerates, in fixed
proportions: empty text, unparseable numbers and dates, 1-part and garbage
timelines, a trailing unparseable numbers cell, and empty, malformed or
empty-list link JSON. The generator knows what each cell parses to, so it
emits the expected table row counts, revenue coverage and day-over-day
totals that the output checks compare against.
"""

from __future__ import annotations

import datetime as dt
import random
import re
from dataclasses import dataclass, field

PAGE_LIMIT = 100
FIRST_DAY = dt.date(2025, 6, 25)

# share of subitems per revenue case (sums to 1): valid amount, valid amount
# followed by an unparseable second numbers cell (last successful parse wins),
# empty text, unparseable text, no numbers cell at all
REVENUE_CASES = (("valid", 0.58), ("valid_then_bad", 0.08), ("empty", 0.12),
                 ("bad", 0.12), ("missing", 0.10))
TIMELINE_CASES = (("ok", 0.70), ("one_part", 0.15), ("garbage", 0.15))
LINK_CASES = (("ok", 0.70), ("empty_json", 0.10), ("malformed", 0.10),
              ("empty_text", 0.05), ("empty_list", 0.05))
DATE_CASES = (("ok", 0.85), ("bad", 0.15))


def _pick(rng: random.Random, cases) -> str:
    r = rng.random()
    acc = 0.0
    for name, share in cases:
        acc += share
        if r < acc:
            return name
    return cases[-1][0]


def _cv(col_id: str, text, value=None, col_type=None) -> dict:
    cell = {"id": col_id, "text": text, "value": value}
    if col_type is not None:
        cell["column"] = {"id": col_id, "title": col_id, "type": col_type}
    return cell


def _ts(day: dt.date, rng: random.Random) -> str:
    return f"{day.isoformat()}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00Z"


@dataclass
class Subitem:
    sid: int
    pid: int
    revenue_case: str
    cents: int
    timeline_case: str
    status: str


@dataclass
class CostItem:
    cid: int
    link_case: str
    link_sid: int
    date_case: str
    cents: int


@dataclass
class Day:
    """One simulated day: its GraphQL pages per board and the expected
    outputs of ``run_daily_etl`` and ``health_report`` for it."""

    run_date: str
    run_ts: str
    pages: dict[str, list[dict]]
    expected_rows: dict[str, int]
    n_subitems: int
    n_with_revenue: int
    revenue_cents: int


@dataclass
class MondayWorld:
    seed: int
    n_projects: int
    n_subitems: int
    n_personnel: int
    n_travel: int
    n_supplier: int
    change_rate: float = 0.03
    subitems: dict[int, Subitem] = field(default_factory=dict)
    projects: list[int] = field(default_factory=list)
    costs: dict[str, list[CostItem]] = field(default_factory=dict)
    day_index: int = 0

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        self.projects = [100_000 + i for i in range(self.n_projects)]
        self.next_sid = 1_000_000
        for _ in range(self.n_subitems):
            self._add_subitem(self.rng.choice(self.projects))
        self.next_cid = 5_000_000
        for board, n in (("personnel", self.n_personnel),
                         ("travel", self.n_travel),
                         ("supplier", self.n_supplier)):
            self.costs[board] = [self._cost_item() for _ in range(n)]

    def _revenue(self) -> tuple[str, int]:
        case = _pick(self.rng, REVENUE_CASES)
        cents = self.rng.randrange(10_000, 1_000_000) if case.startswith("valid") else 0
        return case, cents

    def _add_subitem(self, pid: int) -> None:
        case, cents = self._revenue()
        sid = self.next_sid
        self.next_sid += 1
        self.subitems[sid] = Subitem(
            sid, pid, case, cents, _pick(self.rng, TIMELINE_CASES),
            self.rng.choice(("Done", "Working on it", "Stuck", "")))

    def _cost_item(self) -> CostItem:
        cid = self.next_cid
        self.next_cid += 1
        link_sid = self.rng.randrange(1_000_000, self.next_sid)
        return CostItem(cid, _pick(self.rng, LINK_CASES), link_sid,
                        _pick(self.rng, DATE_CASES), self.rng.randrange(1_000, 500_000))

    def _evolve(self) -> None:
        """Day-over-day change: revenue edits, new and removed subitems."""
        ids = sorted(self.subitems)
        n_change = max(1, int(len(ids) * self.change_rate))
        for sid in self.rng.sample(ids, n_change):
            s = self.subitems[sid]
            s.revenue_case, s.cents = self._revenue()
        n_remove = max(1, int(len(ids) * self.change_rate / 3))
        for sid in self.rng.sample(ids, n_remove):
            del self.subitems[sid]
        for _ in range(max(2, int(len(ids) * self.change_rate / 2))):
            self._add_subitem(self.rng.choice(self.projects))

    def next_day(self) -> Day:
        if self.day_index:
            self._evolve()
        day = FIRST_DAY + dt.timedelta(days=self.day_index)
        self.day_index += 1
        return self._render(day)

    # -- rendering -----------------------------------------------------------
    def _render(self, day: dt.date) -> Day:
        rng = random.Random(f"{self.seed}/{day}")
        by_project: dict[int, list[Subitem]] = {p: [] for p in self.projects}
        for s in self.subitems.values():
            by_project[s.pid].append(s)
        projects = [self._project_item(pid, by_project[pid], day, rng)
                    for pid in self.projects]
        pages = {"projects": _paginate(projects)}
        for board, render in (("personnel", self._personnel_item),
                              ("travel", self._travel_item),
                              ("supplier", self._supplier_item)):
            pages[board] = _paginate([render(c, day, rng) for c in self.costs[board]])
        with_rev = [s for s in self.subitems.values() if s.cents > 0]
        return Day(
            run_date=day.isoformat(),
            run_ts=f"{day.isoformat()} 09:00:00",
            pages=pages,
            expected_rows={
                "projects": len(self.projects),
                "project_subitems": len(self.subitems),
                "personnel_costs": len(self.costs["personnel"]),
                "travel_costs": len(self.costs["travel"]),
                "supplier_costs": len(self.costs["supplier"]),
            },
            n_subitems=len(self.subitems),
            n_with_revenue=len(with_rev),
            revenue_cents=sum(s.cents for s in with_rev),
        )

    def _project_item(self, pid: int, subs: list[Subitem], day: dt.date,
                      rng: random.Random) -> dict:
        date_case = _pick(rng, DATE_CASES)
        cells = [
            _cv("person", rng.choice(("Alice", "Bob", "Carol", ""))),
            _cv("date4", "2025-03-01" if date_case == "ok" else "2025-13-99"),
            _cv("status__1", rng.choice(("Var", "Non Var"))),
            _cv("status_1", rng.choice(("Radical", "WoW", ""))),
            _cv("status0", "TipoA"),
            _cv("status1", "Pipeline1"),
            _cv("status6", rng.choice(("Aperto", "Chiuso"))),
            _cv("text9", "unknown-column-id"),
        ]
        return {
            "id": str(pid), "name": f"Project {pid}",
            "created_at": _ts(day, rng) if rng.random() < 0.9 else None,
            "updated_at": _ts(day, rng) if rng.random() < 0.5 else None,
            "column_values": cells,
            "subitems": [self._subitem(s, day, rng) for s in subs] or None,
        }

    @staticmethod
    def _subitem(s: Subitem, day: dt.date, rng: random.Random) -> dict:
        cells = [_cv("person", rng.choice(("Dan", "Eve", "")), col_type="person")]
        amount = f"{s.cents // 100}.{s.cents % 100:02d}"
        if s.revenue_case == "valid":
            cells.append(_cv("numbers", amount, col_type="numbers"))
        elif s.revenue_case == "valid_then_bad":
            cells.append(_cv("numbers", amount, col_type="numbers"))
            cells.append(_cv("numbers2", "n/a", col_type="numbers"))
        elif s.revenue_case == "empty":
            cells.append(_cv("numbers", "", col_type="numbers"))
        elif s.revenue_case == "bad":
            cells.append(_cv("numbers", "abc", col_type="numbers"))
        timeline = {"ok": "2025-01-01 - 2025-02-01", "one_part": "2025-01-01",
                    "garbage": "2025-01-15 - garbage"}[s.timeline_case]
        cells.append(_cv("timeline", timeline, col_type="timeline"))
        cells.append(_cv("status", s.status, col_type="status"))
        return {
            "id": str(s.sid), "name": f"Sub {s.sid}",
            "created_at": _ts(day, rng) if rng.random() < 0.8 else None,
            "updated_at": None,
            "column_values": cells,
        }

    @staticmethod
    def _link(c: CostItem, col_id: str) -> dict:
        ok = f'{{"linkedPulseIds": [{{"linkedPulseId": {c.link_sid}}}]}}'
        text, value = {
            "ok": (f"Sub {c.link_sid}", ok),
            "empty_json": (f"Sub {c.link_sid}", "{}"),
            "malformed": (f"Sub {c.link_sid}", "{bad json"),
            "empty_text": ("", ok),
            "empty_list": (f"Sub {c.link_sid}", '{"linkedPulseIds": []}'),
        }[c.link_case]
        return _cv(col_id, text, value=value)

    @staticmethod
    def _amount(c: CostItem) -> str:
        return "abc" if c.date_case == "bad" else f"{c.cents / 100:.2f}"

    def _cost_base(self, c: CostItem, day: dt.date, rng: random.Random,
                   cells: list[dict]) -> dict:
        return {
            "id": str(c.cid), "name": f"Cost {c.cid}",
            "created_at": _ts(day, rng) if rng.random() < 0.7 else None,
            "updated_at": None, "column_values": cells, "subitems": None,
        }

    def _personnel_item(self, c: CostItem, day, rng) -> dict:
        return self._cost_base(c, day, rng, [
            _cv("person", rng.choice(("Alice", ""))),
            _cv("numbers", self._amount(c)),
            self._link(c, "board_relation1"),
        ])

    def _travel_item(self, c: CostItem, day, rng) -> dict:
        return self._cost_base(c, day, rng, [
            _cv("person", "Carol"),
            _cv("numbers", self._amount(c)),
            _cv("date", "2025-06-10" if c.date_case == "ok" else "bad-date"),
            _cv("status", rng.choice(("Pagata", ""))),
            _cv("dropdown", "Carta aziendale"),
            self._link(c, "board_relation39"),
        ])

    def _supplier_item(self, c: CostItem, day, rng) -> dict:
        return self._cost_base(c, day, rng, [
            _cv("numbers", self._amount(c)),
            _cv("numbers8", "220"),
            _cv("status", "TipoX"),
            _cv("status_1", rng.choice(("Ordinato", ""))),
            self._link(c, "board_relation"),
        ])


def _paginate(items: list[dict]) -> list[dict]:
    chunks = [items[i:i + PAGE_LIMIT] for i in range(0, len(items), PAGE_LIMIT)]
    return [
        {"data": {"boards": [{"items_page": {
            "cursor": f"page{i + 1}" if i + 1 < len(chunks) else None,
            "items": chunk,
        }}]}}
        for i, chunk in enumerate(chunks)
    ]


_BOARD_RE = re.compile(r"boards\(ids: \[([^\]]+)\]\)")
_CURSOR_RE = re.compile(r'cursor: "page(\d+)"')


class BoardTransport:
    """GraphQL transport serving one ``Day``'s pages, routed by board id and
    cursor as a Monday endpoint would. Counts calls, pages and items served."""

    def __init__(self, day: Day):
        self.pages = {f"{b}-board": p for b, p in day.pages.items()}
        self.calls = self.pages_served = self.items_served = 0

    def __call__(self, query: str) -> dict:
        self.calls += 1
        board = _BOARD_RE.search(query).group(1)
        m = _CURSOR_RE.search(query)
        page = self.pages[board][int(m.group(1)) if m else 0]
        items = page["data"]["boards"][0]["items_page"]["items"]
        self.pages_served += bool(items)
        self.items_served += len(items)
        return page
