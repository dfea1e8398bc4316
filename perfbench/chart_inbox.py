"""Seeded daily Top-50 chart inbox for the ``chart_etl`` backfill.

Each day is one ``spotify_raw_<date>.json`` file in the raw Spotify
playlist-response shape the engine ingests (``pipeline/schemas.py``),
with the edge cases of ``pipeline/fixture_gen.py``:

* mixed release-date precision (``yyyy`` | ``yyyy-MM`` | ``yyyy-MM-dd``);
* multi-artist tracks (``track.artists`` of 1-3 entries);
* one album with a null ``release_date``;
* rank churn: every day is a fresh seeded draw in a fresh order;
* a pinned song (``song_0000``) charting every day.

The same seed always gives the same files, byte for byte.
"""

from __future__ import annotations

import datetime
import json
import random
from pathlib import Path

N_PER_DAY = 50
N_SONGS, N_ALBUMS, N_ARTISTS = 160, 48, 36
PINNED_SONG = 0
NULL_RELEASE_ALBUM = 13
FIRST_DAY = datetime.date(2025, 8, 1)


def _catalog(rng: random.Random) -> list[dict]:
    artists = [
        {
            "id": f"artist_{i:04d}",
            "name": f"Artist {i}",
            "href": f"https://api.spotify.example/v1/artists/artist_{i:04d}",
        }
        for i in range(N_ARTISTS)
    ]
    albums = []
    for i in range(N_ALBUMS):
        year, month, day = 1980 + rng.randrange(45), 1 + rng.randrange(12), 1 + rng.randrange(28)
        release = (f"{year}", f"{year}-{month:02d}", f"{year}-{month:02d}-{day:02d}")[i % 3]
        albums.append(
            {
                "id": f"album_{i:04d}",
                "name": f"Album {i}",
                "release_date": None if i == NULL_RELEASE_ALBUM else release,
                "total_tracks": 4 + rng.randrange(20),
                "external_urls": {"spotify": f"https://open.spotify.example/album/album_{i:04d}"},
                "artists": [artists[i % N_ARTISTS]],
            }
        )
    songs = []
    for i in range(N_SONGS):
        first = rng.randrange(N_ARTISTS)
        n_artists = 1 + rng.randrange(3)
        songs.append(
            {
                "id": f"song_{i:04d}",
                "name": f"Song {i}",
                "popularity": rng.randrange(101),
                "duration_ms": 90_000 + rng.randrange(240_000),
                "external_urls": {"spotify": f"https://open.spotify.example/track/song_{i:04d}"},
                "album": albums[i % N_ALBUMS],
                "artists": [artists[(first + 7 * k) % N_ARTISTS] for k in range(n_artists)],
            }
        )
    return songs


def chart_days(seed: int, n_days: int) -> list[tuple[str, str]]:
    """``n_days`` consecutive (file name, JSON body) pairs for ``seed``."""
    rng = random.Random(seed)
    songs = _catalog(rng)
    pool = [s for s in range(N_SONGS) if s != PINNED_SONG]
    out = []
    for d in range(n_days):
        date = (FIRST_DAY + datetime.timedelta(days=d)).isoformat()
        picks = [PINNED_SONG, *rng.sample(pool, N_PER_DAY - 1)]
        rng.shuffle(picks)
        items = [
            {
                "added_at": f"{date}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}Z",
                "track": songs[s],
            }
            for s in picks
        ]
        body = json.dumps({"tracks": {"items": items}}, separators=(",", ":"))
        out.append((f"spotify_raw_{date}.json", body + "\n"))
    return out


def land(inbox: Path, name: str, body: str) -> Path:
    """Write one day's file into ``inbox`` atomically (temp name + rename),
    so a streaming file source never lists a half-written file."""
    inbox.mkdir(parents=True, exist_ok=True)
    tmp = inbox / f".{name}.tmp"
    tmp.write_text(body)
    dest = inbox / name
    tmp.replace(dest)
    return dest
