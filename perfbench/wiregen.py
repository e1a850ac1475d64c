"""Seeded wire-line generator and a pure-Python reference for the stream path.

Lines follow the reference's positional CSV layouts (FIXTURES.md §A):

* kill lines, 13 columns: ``[1]=tick, [2]=round, [3]=killer_name,
  [4]=killer_steamid, [7]=victim_name, [8]=victim_steamid,
  [11]=assister_name, [12]=assister_steamid``; ``tick = second * 128``
  plus sub-second ticks; no assister is written as name ``"0"``, id ``"0"``.
* damage lines, 10 columns: ``[1]=tick, [2]=round, [5]=old_hp,
  [6]=new_hp, [9]=damager_steamid``.

A small fixed share of lines is short or carries an unparseable tick, so
the parsers' drop paths run. :func:`parse_kill_line`,
:func:`parse_damage_line` and :class:`ReferenceFold` restate the engine's
semantics (``sources.wire`` and ``PlayerStatsUpdater``) in plain Python;
the benchmark checks the engine's snapshots against them.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

TICKS_PER_SECOND = 128


@dataclass(frozen=True)
class Player:
    steam_id: str
    name: str
    team: str


def make_players(n: int) -> list[Player]:
    """``n`` players with stable, comma-free names, alternating teams."""
    return [Player(f"7656119{i:010d}", f"player_{i:05d}", "CT" if i % 2 else "T") for i in range(n)]


def _tick_field(rng: random.Random, second: int) -> str:
    # 1% unparseable ticks exercise the parsers' `second IS NOT NULL` drop
    if rng.random() < 0.01:
        return f"t{second}"
    return str(second * TICKS_PER_SECOND + rng.randrange(TICKS_PER_SECOND))


def kill_line(rng: random.Random, match: list[Player], second: int, rnd: int) -> str:
    """One kill line for ``match`` at ``second``; see the module docstring."""
    u = rng.random()
    if u < 0.01:  # 3 columns: every name field is missing, all events drop
        return f"kill,{_tick_field(rng, second)},{rnd}"
    killer, victim, assister = rng.sample(match, 3)
    kname, ksid = killer.name, killer.steam_id
    vname, vsid = victim.name, victim.steam_id
    if u < 0.05:  # world kill: no killer
        kname, ksid = "", ""
    elif u < 0.07:  # victim left the server
        vname, vsid = "", ""
    head = (
        f"kill,{_tick_field(rng, second)},{rnd},{kname},{ksid},{killer.team},"
        f"ak47,{vname},{vsid},{victim.team},{int(rng.random() < 0.3)}"
    )
    if u < 0.09:  # 9 columns: assister fields missing, assist drops
        return head.rsplit(",", 2)[0]
    if rng.random() < 0.45:
        return f"{head},{assister.name},{assister.steam_id}"
    return f"{head},0,0"


def damage_line(rng: random.Random, match: list[Player], second: int, rnd: int) -> str:
    """One damage line for ``match`` at ``second``; see the module docstring."""
    u = rng.random()
    attacker, victim = rng.sample(match, 2)
    old_hp = rng.randrange(1, 101)
    new_hp = max(0, old_hp - rng.randrange(1, 60))
    if u < 0.01:  # 5 columns: damager id missing, row drops
        return f"damage,{_tick_field(rng, second)},{rnd},{attacker.name},{victim.steam_id}"
    damager = "" if u < 0.04 else attacker.steam_id  # empty damager drops
    return (
        f"damage,{_tick_field(rng, second)},{rnd},{attacker.name},{victim.steam_id},"
        f"{old_hp},{new_hp},m4a1,chest,{damager}"
    )


def round_of(second: int) -> int:
    """Round 0 is warm-up (``damage_per_round`` is NULL there); a round lasts 40 s."""
    return 0 if second < 5 else 1 + (second - 5) // 40


def match_file(
    rng: random.Random,
    match: list[Player],
    kind: str,
    n_lines: int,
    second_lo: int,
    second_hi: int,
) -> list[str]:
    """``n_lines`` lines of ``kind`` (kill|damage) spread over ``[second_lo, second_hi]``."""
    make = kill_line if kind == "kill" else damage_line
    out = []
    for i in range(n_lines):
        s = second_lo + (second_hi - second_lo) * i // max(n_lines, 1)
        out.append(make(rng, match, s, round_of(s)))
    return out


# -- reference parsers (mirror sources.wire) ---------------------------------


def _get(fields: list[str], i: int) -> str | None:
    return fields[i] if i < len(fields) else None


def _try_long(s: str | None) -> int | None:
    if s is None:
        return None
    t = s.strip()
    body = t[1:] if t[:1] in "+-" else t
    return int(t) if body.isdigit() else None


def _java_div(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b > 0) else -q


Event = tuple  # (player, steam_id, type, second, amount, round)


def parse_kill_line(line: str) -> list[Event]:
    f = line.split(",")
    tick = _try_long(_get(f, 1))
    if tick is None:
        return []
    second, rnd = _java_div(tick, TICKS_PER_SECOND), _try_long(_get(f, 2))
    out = []
    for ni, si, etype in ((3, 4, "kill"), (7, 8, "death"), (11, 12, "assist")):
        name = _get(f, ni)
        if name is None or name == "" or (etype == "assist" and name == "0"):
            continue
        out.append((name, _get(f, si), etype, second, 0, rnd))
    return out


def parse_damage_line(line: str) -> list[Event]:
    f = line.split(",")
    tick, sid = _try_long(_get(f, 1)), _get(f, 9)
    if tick is None or sid is None or sid == "":
        return []
    old, new = _try_long(_get(f, 5)), _try_long(_get(f, 6))
    amount = None if old is None or new is None else old - new
    return [("", sid, "damage", _java_div(tick, TICKS_PER_SECOND), amount, _try_long(_get(f, 2)))]


def parse_lines(kind: str, lines: list[str]) -> list[Event]:
    parse = parse_kill_line if kind == "kill" else parse_damage_line
    return [e for line in lines for e in parse(line)]


# -- reference fold (mirrors streaming.stateful PlayerStatsUpdater semantics) --

SNAPSHOT_COLUMNS = (
    "steam_id",
    "player_name",
    "second",
    "kills",
    "deaths",
    "assists",
    "damage",
    "kd_ratio",
    "damage_per_round",
)


@dataclass
class ReferenceFold:
    """Per-key state carried across micro-batches, folded one batch at a time.

    Counters are cumulative; ``second`` and ``round`` are maxima over the
    key's events in the current batch only; the emitted name is the first
    non-blank name in the batch, else the stored one.
    """

    state: dict = field(default_factory=dict)  # steam_id -> [k, d, a, dmg, name]
    last: dict = field(default_factory=dict)  # steam_id -> last emitted row

    def fold_batch(self, events: list[Event]) -> dict[str, tuple]:
        by_key: dict[str, list[Event]] = {}
        for e in events:
            by_key.setdefault(e[1], []).append(e)
        emitted = {}
        for sid, evs in by_key.items():
            k, d, a, dmg, name = self.state.get(sid, (0, 0, 0, 0.0, ""))
            batch_dmg = 0
            cur_second = cur_round = 0
            batch_name = ""
            for player, _sid, etype, second, amount, rnd in evs:
                if etype == "kill":
                    k += 1
                elif etype == "death":
                    d += 1
                elif etype == "assist":
                    a += 1
                elif etype == "damage" and amount is not None:
                    batch_dmg += amount
                cur_second = max(cur_second, second)
                cur_round = max(cur_round, rnd)
                if not batch_name and player != "":
                    batch_name = player
            dmg += float(batch_dmg)
            name = batch_name or name
            self.state[sid] = (k, d, a, dmg, name)
            kd = float(k) if d == 0 else k / d
            dpr = None if cur_round == 0 else dmg / cur_round
            row = (sid, name, cur_second, k, d, a, dmg, kd, dpr)
            emitted[sid] = row
            self.last[sid] = row
        return emitted


def compare_snapshots(expected: dict[str, tuple], actual: dict[str, tuple]) -> list[str]:
    """Keys whose final snapshot differs on any of the 9 columns (or is missing)."""
    bad = []
    for sid in sorted(set(expected) | set(actual)):
        e, a = expected.get(sid), actual.get(sid)
        if e is None or a is None or len(e) != len(a):
            bad.append(sid)
            continue
        for x, y in zip(e, a):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or abs(x - y) > 1e-9 * max(1.0, abs(x)):
                    bad.append(sid)
                    break
            elif x != y:
                bad.append(sid)
                break
    return bad
