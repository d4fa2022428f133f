"""Seeded game-API fixture JSON for the etl-cycles workload.

Writes one `<endpoint>.json` envelope per configured endpoint, at the
reference's scale (about 239 rows over six output tables), and returns the
per-table row counts a correct `Pipeline.run()` must load. Every edge case
the golden run covers is present for every seed: non-playable agents (whose
abilities must not land), a null role, a description over 500 characters,
a weapon with no stats, a weapon with an empty `damageRanges`, a map with no
callouts, a gamemode with no duration, and the unmapped `competitivetiers`
endpoint.
"""
import json
import os
import random

ROLES = ["Initiator", "Sentinel", "Duelist", "Controller"]
SLOTS = ["Ability1", "Ability2", "Grenade", "Ultimate", "Passive"]


def _agents(rng):
    playable = rng.randint(26, 30)
    rows, abilities = [], 0
    for i in range(playable):
        n_ab = rng.choice([4, 4, 4, 5])
        abilities += n_ab
        rows.append({
            "uuid": f"agent-{i}",
            "displayName": f"Agent {i}",
            "description": "d" * rng.randint(501, 900) if i == 3
            else None if i == 2 else f"Agent number {i} " + "x" * rng.randint(0, 40),
            "displayIcon": f"https://x/agents/{i}.png",
            "isPlayableCharacter": True,
            "role": None if i == 1 else {"displayName": rng.choice(ROLES)},
            "abilities": [{
                "slot": SLOTS[a],
                "displayName": f"Skill {i}_{a}",
                "description": None if (i, a) == (0, 0) else f"Does thing {a}",
            } for a in range(n_ab)],
        })
    for i in range(rng.randint(1, 3)):
        rows.append({"uuid": f"npc-{i}", "displayName": f"NPC {i}",
                     "isPlayableCharacter": False,
                     "abilities": [{"slot": "Ability1", "displayName": "Hidden"}]})
    rng.shuffle(rows)
    return rows, {"agents": playable, "abilities": abilities}


def _weapons(rng):
    n = rng.randint(18, 22)
    rows, ranges = [], 0
    for i in range(n):
        if i == 0:
            stats = None  # melee: no stats at all
        else:
            n_r = 0 if i == 1 else rng.choice([2, 2, 3])
            ranges += n_r
            stats = {
                "fireRate": round(rng.uniform(0.5, 16), 2),
                "magazineSize": rng.randint(5, 100),
                "reloadTimeSeconds": round(rng.uniform(1, 5), 2),
                "equipTimeSeconds": round(rng.uniform(0.5, 1.5), 2),
                "firstBulletAccuracy": round(rng.uniform(0.1, 5), 2),
                "wallPenetration": "EWallPenetrationDisplayType::"
                + rng.choice(["Low", "Medium", "High"]),
                "damageRanges": [{
                    "rangeStartMeters": r * 20, "rangeEndMeters": (r + 1) * 20,
                    "headDamage": round(rng.uniform(50, 260), 1),
                    "bodyDamage": round(rng.uniform(20, 150), 1),
                    "legDamage": round(rng.uniform(15, 130), 1),
                } for r in range(n_r)],
            }
        rows.append({
            "uuid": f"weapon-{i}",
            "displayName": f"Weapon {i}",
            "category": "EEquippableCategory::" + ("Melee" if i == 0 else rng.choice(
                ["Rifle", "Sidearm", "SMG", "Shotgun", "Sniper", "Heavy"])),
            "displayIcon": f"https://x/weapons/{i}.png",
            "shopData": None if i == 0 else {"cost": rng.randrange(100, 4800, 50)},
            "weaponStats": stats,
        })
    rng.shuffle(rows)
    return rows, {"weapons": n, "weapon_damage": ranges}


def _maps(rng):
    n = rng.randint(21, 25)
    rows = []
    for i in range(n):
        row = {"uuid": f"map-{i}", "displayName": f"Map {i}",
               "coordinates": None if i == 0 else f"{rng.randint(0, 90)}N {rng.randint(0, 180)}E",
               "splash": f"https://x/maps/{i}.png"}
        if i != 1:  # map 1 has no callouts key at all
            row["callouts"] = [{"regionName": f"R{c}"} for c in range(rng.randint(0, 30))]
        rows.append(row)
    rng.shuffle(rows)
    return rows, {"maps": n}


def _gamemodes(rng):
    n = rng.randint(12, 16)
    rows = []
    for i in range(n):
        row = {"uuid": f"mode-{i}", "displayName": f"Mode {i}",
               "duration": None if i == 0 else f"{rng.randint(5, 45)} min"}
        if i != 1:
            row["allowsMatchTimeouts"] = rng.random() < 0.5
        rows.append(row)
    rng.shuffle(rows)
    return rows, {"gamemodes": n}


def generate(out_dir, seed):
    """Write the fixtures for `seed` into `out_dir`; return expected rows per table."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    expected = {}
    for endpoint, make in [("agents", _agents), ("weapons", _weapons),
                           ("maps", _maps), ("gamemodes", _gamemodes)]:
        rows, counts = make(rng)
        expected.update(counts)
        _write(out_dir, endpoint, rows)
    # unmapped endpoint: extracted, then dropped by the transform dispatch
    _write(out_dir, "competitivetiers",
           [{"uuid": f"tier-{i}", "tierName": f"Tier {i}"} for i in range(rng.randint(1, 25))])
    return expected


def _write(out_dir, endpoint, rows):
    with open(os.path.join(out_dir, f"{endpoint}.json"), "w") as f:
        json.dump({"status": 200, "data": rows}, f)
