"""Seeded Trello board generator for the ``board_etl`` workload.

Record shapes come from ``tools/make_board_fixture.build_board``: old
(nested) and new (top-level) checklist formats, stray duplicate
checklists the format upgrade must drop, closed cards, an unmapped
list, and the owner-fallback custom-field cases. The generator scales
that board by card count and derives a sequence of boards:

- cycle 0: the base board (every active entity is a create);
- drift cycles: a seeded share of active cards is retitled, moved to
  another mapped list, or closed, and a batch of new cards arrives.

For every cycle it also returns the counts a correct ETL must send:
creates, updates and field changes, plus the entities that are open
after the cycle, with the title and ``Status`` of each open card. The model mirrors the ETL's desired state: an active
card is ``open`` with a ``Status`` field from its list; an incomplete
check item of an active card is ``open``; anything seen before and no
longer active is ``closed`` with its last title and fields.
"""

from __future__ import annotations

import copy
import random
from dataclasses import dataclass

from tools import make_board_fixture as fixture

STATUS_MAP = fixture.STATUS_MAP
SECADM = fixture.SECADM
LIST_NAMES = {lid: name for lid, name, _ in fixture.LISTS}
MAPPED_LISTS = sorted(lid for lid, name in LIST_NAMES.items() if name in STATUS_MAP)


@dataclass(frozen=True)
class Expected:
    creates: int
    updates: int
    field_changes: int
    # open entity id -> (title, Status) for cards, (None, None) for items
    open: dict[str, tuple]


def _fixture_board(n_cards: int) -> dict:
    """``build_board`` at ``n_cards`` cards (its size is a module constant)."""
    saved = fixture.N_CARDS
    fixture.N_CARDS = n_cards
    try:
        return fixture.build_board()
    finally:
        fixture.N_CARDS = saved


def _entities(board: dict) -> dict[str, tuple]:
    """Desired open entities: id -> (title, status) for active cards,
    (None, None) for incomplete items of active cards. Titles of items
    never change, so the model does not need them."""
    top = {}
    for cl in board["checklists"]:
        top.setdefault(cl["idCard"], []).append(cl)
    out: dict[str, tuple] = {}
    for card in board["cards"]:
        list_name = LIST_NAMES.get(card["idList"])
        if card["closed"] or list_name not in STATUS_MAP:
            continue
        out[card["id"]] = (card["name"], STATUS_MAP[list_name])
        # a card that carries its own checklists keeps them; otherwise it
        # adopts the top-level ones pointing at it (the format upgrade)
        lists = card["checklists"] if "checklists" in card else top.get(card["id"], [])
        for cl in lists:
            for item in cl["checkItems"]:
                if item["state"] != "complete":
                    out[item["id"]] = (None, None)
    return out


def _expected(state: dict[str, tuple], desired_open: dict[str, tuple]) -> Expected:
    """Diff a cycle's desired entities against the state the previous
    cycles left, and advance ``state`` in place."""
    creates = updates = fields = 0
    for eid, (title, status) in desired_open.items():
        if eid not in state:
            creates += 1
            state[eid] = (title, status, "open")
            continue
        old_title, old_status, old_state = state[eid]
        if old_title != title or old_state != "open":
            updates += 1
        if old_status != status:
            fields += 1
        state[eid] = (title, status, "open")
    for eid, (title, status, st) in state.items():
        if eid not in desired_open and st == "open":
            updates += 1
            state[eid] = (title, status, "closed")
    return Expected(creates, updates, fields, desired_open)


def generate(
    seed: int,
    n_cards: int,
    drift_cycles: int = 1,
    drift_share: float = 0.1,
) -> tuple[list[dict], list[Expected]]:
    """Boards for a cold cycle and ``drift_cycles`` drift cycles, with
    the expected sink counts of each."""
    rng = random.Random(seed)
    n_new = max(int(n_cards * drift_share), 1)
    full = _fixture_board(n_cards + n_new * drift_cycles)

    def revealed(cards: list[dict]) -> dict:
        ids = {c["id"] for c in cards}
        board = dict(full)
        board["cards"] = cards
        board["checklists"] = [cl for cl in full["checklists"] if cl["idCard"] in ids]
        return board

    cards = copy.deepcopy(full["cards"][:n_cards])
    boards = [revealed(cards)]
    for k in range(drift_cycles):
        cards = copy.deepcopy(cards)
        active = [
            c for c in cards
            if not c["closed"] and c["idList"] in MAPPED_LISTS
        ]
        picked = rng.sample(active, 3 * n_new)
        for c in picked[:n_new]:
            c["name"] = f"{c['name']} (rev {k + 1})"
        for c in picked[n_new : 2 * n_new]:
            c["idList"] = rng.choice([l for l in MAPPED_LISTS if l != c["idList"]])
        for c in picked[2 * n_new :]:
            c["closed"] = True
        start = n_cards + k * n_new
        cards += copy.deepcopy(full["cards"][start : start + n_new])
        boards.append(revealed(cards))

    state: dict[str, tuple] = {}
    expected = [_expected(state, _entities(b)) for b in boards]
    return boards, expected
