"""Seeded landing blobs for the daily star pipeline, plus the counts a correct
run must produce.

Layout is the extractor's: one JSON array per entity per day,
``<out>/<day>/playlists.json`` (one document per user) and
``<out>/<day>/tracks.json`` (one document per playlist). Every day carries the
edge cases the pipeline's unit tests pin:

- local tracks with a NULL id whose artist also has a NULL id;
- non-local tracks with a NULL artist id (dropped from dim_artist);
- a malformed ``added_at`` (coerced to NULL in the fact);
- playlists claimed by two users (owner = MIN(spotify_id));
- orphan playlists that appear only in the tracks blob (NULL owner);
- repeated (playlist, track, added_at) entries (removed by the full-row
  dedup), empty track lists, tracks with no artists, users with no playlists.

The expected counts are computed here in plain Python from the same
documents, following the pipeline's documented semantics, so a run can be
checked without a second engine.

The shape per user follows a sizing probe of the production daily job:
about 68 track items per user (two playlists of 1 to 66 items on average),
one artist on most tracks (about 1.3 fact rows per item) and about 390 bytes
of JSON per item.
"""

from __future__ import annotations

import json
import os
import random

MALFORMED = ("not-a-date", "2024-13-45T99:99:99Z", "yesterday")
#: Artists per track: one on 70% of the tracks, two on 25%, three on 5%.
ARTIST_COUNTS = (1,) * 14 + (2,) * 5 + (3,)
MAX_ITEMS = 66


def _catalog(rng: random.Random, n_tracks: int, n_artists: int) -> list[dict]:
    """Track metadata as the extractor projects it; artists are fixed per
    track, so a track id always carries the same artist list."""
    out = []
    for n in range(n_tracks):
        roll = rng.random()
        if roll < 0.01:
            artists = []
        else:
            artists = [
                {"id": f"ar{a:06d}", "name": f"Artist {a}"}
                for a in rng.sample(range(n_artists), rng.choice(ARTIST_COUNTS))
            ]
            if roll < 0.03:
                artists.append({"id": None, "name": "Featured (no id)"})
        year = rng.randint(1970, 2024)
        release = rng.choice((f"{year}", f"{year}-{rng.randint(1, 12):02d}", f"{year}-03-15"))
        out.append(
            {
                "id": f"tr{n:07d}",
                "name": f"Track {n}",
                "duration_ms": rng.randint(60_000, 480_000),
                "explicit": rng.random() < 0.2,
                "album": {
                    "id": f"al{n // 8:06d}",
                    "name": f"Album {n // 8}",
                    "release_date": release,
                    "total_tracks": 9999 if rng.random() < 0.05 else rng.randint(1, 30),
                    "images": [
                        {"url": f"https://img.example/{n // 8}/640", "height": 640, "width": 640}
                    ],
                },
                "artists": artists,
            }
        )
    return out


def _added_at(rng: random.Random, day: str) -> str:
    if rng.random() < 0.01:
        return rng.choice(MALFORMED)
    s = int(rng.random() * 86_400)
    return f"{day}T{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}Z"


def build_day(
    seed: int, users: int, day: str, day_index: int, catalog: list[dict]
) -> tuple[list, list, dict]:
    """(playlists docs, tracks docs, expected counts) for one day."""
    rng = random.Random(seed * 1_000_003 + day_index)
    pool = users * 4  # playlist id pool: days share most playlists

    playlist_docs = []
    claimed: set[str] = set()
    for u in range(users):
        spotify_id = f"user{u:06d}"
        owned = [
            {"id": f"pl{p:07d}", "name": f"Playlist {p}"}
            for p in sorted(rng.sample(range(u * 4, u * 4 + 4), rng.randint(0, 4)))
        ]
        if rng.random() < 0.02:  # also claims another user's playlist
            p = rng.randrange(pool)
            owned.append({"id": f"pl{p:07d}", "name": f"Shared {p} of {spotify_id}"})
        claimed.update(pl["id"] for pl in owned)
        playlist_docs.append({"spotify_id": spotify_id, "playlists": owned})

    orphans = [f"pl{pool + o:07d}" for o in range(max(1, users // 50))]
    track_docs = []
    for playlist_id in sorted(claimed) + orphans:
        items = []
        for _ in range(0 if rng.random() < 0.02 else 1 + int(rng.random() * MAX_ITEMS)):
            if rng.random() < 0.03:
                items.append(
                    {
                        "added_at": _added_at(rng, day),
                        "is_local": True,
                        "id": None,
                        "name": "Home Recording",
                        "duration_ms": 60_000 + int(rng.random() * 420_000),
                        "explicit": False,
                        "album": None,
                        "artists": [{"id": None, "name": "Unknown"}],
                    }
                )
                continue
            item = dict(catalog[int(rng.random() * len(catalog))])
            item["added_at"] = _added_at(rng, day)
            item["is_local"] = False
            items.append(item)
            if rng.random() < 0.02:  # the same entry twice: a full-row duplicate
                items.append(dict(item))
        track_docs.append({"playlist_id": playlist_id, "tracks": items})

    return playlist_docs, track_docs, expected_counts(playlist_docs, track_docs)


def expected_counts(playlist_docs: list, track_docs: list) -> dict:
    """What a correct run produces from these documents (see module doc)."""
    playlists = {pl["id"] for doc in playlist_docs for pl in doc["playlists"]}
    artists, tracks, fact = set(), set(), set()
    for doc in track_docs:
        for tr in doc["tracks"]:
            if tr["id"] is not None:
                tracks.add(tr["id"])
            for ar in tr["artists"] or []:
                if ar["id"] is not None:
                    artists.add(ar["id"])
                fact.add((doc["playlist_id"], tr["id"], tr["added_at"], tr["is_local"], ar["id"]))
    resolved = sum(
        1
        for playlist_id, track_id, _, _, artist_id in fact
        if playlist_id in playlists and track_id is not None and artist_id is not None
    )
    return {
        "dim_platform": 1,
        "dim_playlist": len(playlists),
        "dim_artist": len(artists),
        "dim_track": len(tracks),
        "fact_rows": len(fact),
        "fact_null_added_at": sum(1 for row in fact if not _parses(row[2])),
        "fact_resolved": resolved,
    }


def _parses(added_at: str | None) -> bool:
    return added_at is not None and added_at not in MALFORMED


def dim_user_rows(users: int) -> list[tuple[str, str, str]]:
    """The seed user dimension the pipeline joins against."""
    return [(f"u-{u:010d}", f"User {u}", f"user{u:06d}") for u in range(users)]


def generate(out_dir: str, seed: int, users: int, days: list[str]) -> dict:
    """Write every day's blobs under ``out_dir``; returns
    ``{day: {"playlists": path, "tracks": path, "expected": {...}}}``."""
    catalog = _catalog(random.Random(seed), users * 20, users * 4)
    out = {}
    for i, day in enumerate(days):
        playlists, tracks, expected = build_day(seed, users, day, i, catalog)
        day_dir = os.path.join(out_dir, day)
        os.makedirs(day_dir, exist_ok=True)
        paths = {}
        for name, docs in (("playlists", playlists), ("tracks", tracks)):
            paths[name] = os.path.join(day_dir, f"{name}.json")
            with open(paths[name], "w") as fh:
                fh.write(json.dumps(docs))
        out[day] = {**paths, "expected": expected}
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(out, fh)
    return out
