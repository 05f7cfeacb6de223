"""Persistent route/settings store — logport's SQLite config, Spark-native.

The reference persists `watch`/`unwatch`/`set`/`unset` mutations to SQLite
(/root/reference/src/Database.cc:65-84, src/LogPort.cc:848-883,1221-1273)
so they survive across invocations. Here the store is two single-file
PARQUET tables under `<out_dir>/config/` — written with pyarrow directly
(no JVM spin-up for a control-plane verb; a CLI `watch` returns in
milliseconds). The pipeline reads the stored bytes through `list_routes`
(operators/enrich.load_lookups builds its routes lookup in the driver from
them), so its routes map literal holds the SAME bytes the CLI wrote.

Semantics:
- routes: the built-in ROUTES list (config.py) is the SEED; the first
  mutation materializes it, later mutations upsert/delete by route_key.
  An absent store file means "defaults" — zero-cost for pipelines that
  never mutate. The catch-all `__default__` route cannot be unwatched
  (removing it would leave unmatched categories unroutable; logport's
  equivalent is the settings-backed default topic, which `unset` also
  refuses to orphan by falling back to the hardcoded default).
- settings: plain (key, value) rows; precedence stays env > stored >
  default (config.Settings.get — the stored dict is handed to
  Settings.values, so src/LogPort.cc:961-1048's ordering is preserved).
- writes are atomic: temp file + os.replace, single-writer (the reference
  holds the same assumption via SQLite's single-file locking; SURVEY §2.4
  documents why busy-retry (L3) is n/a here).

Scale note: config tables are O(routes) rows — they ride the plan as map
literals (operators/enrich.py), never a join or a shuffle.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from .config import (DEFAULT_ROUTE_KEY, RouteSpec, routes_rows,
                     validate_scheme_consistency)

_ROUTE_COLS = ["id", "route_key", "sink", "producer_type", "brokers",
               "product_code", "log_type", "hostname"]


def _atomic_write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


class ConfigStore:
    """Route + settings persistence rooted at `<out_dir>/config/`."""

    def __init__(self, out_dir: str):
        self.dir = os.path.join(out_dir, "config")
        self.routes_path = os.path.join(self.dir, "routes.parquet")
        self.settings_path = os.path.join(self.dir, "settings.parquet")

    # ------------------------------------------------------------ routes

    def list_routes(self) -> list[dict]:
        """Stored routes if any mutation ever happened, else the built-in
        seed — ordered by id for stable CLI output."""
        if not os.path.exists(self.routes_path):
            return routes_rows()
        rows = pq.read_table(self.routes_path).to_pylist()
        return sorted(rows, key=lambda r: r["id"])

    def _write_routes(self, rows: list[dict]) -> None:
        cols = {c: [r[c] for r in rows] for c in _ROUTE_COLS}
        _atomic_write(pa.table(cols), self.routes_path)

    def watch(self, route_key: str, sink: str,
              brokers: str = "kafka://localhost:9092",
              product_code: str = "", log_type: str = "",
              hostname: str = "") -> RouteSpec:
        """Upsert a route by route_key (logport `watch <file> <topic>`,
        src/LogPort.cc:848-883). producer_type derives from the broker
        URL scheme — mixed schemes raise, as src/UrlList.cc:35-63 does."""
        producer_type = validate_scheme_consistency(brokers)
        rows = self.list_routes()
        existing = {r["route_key"]: r for r in rows}
        rid = (existing[route_key]["id"] if route_key in existing
               else 1 + max((r["id"] for r in rows), default=0))
        spec = RouteSpec(rid, route_key, sink, producer_type, brokers,
                         product_code, log_type, hostname)
        existing[route_key] = {c: getattr(spec, c) for c in _ROUTE_COLS}
        self._write_routes(sorted(existing.values(), key=lambda r: r["id"]))
        return spec

    def unwatch(self, route_key: str) -> bool:
        """Delete a route (logport `unwatch <file>`). Returns whether the
        key existed. Refuses to drop the catch-all."""
        if route_key == DEFAULT_ROUTE_KEY:
            raise ValueError(
                f"cannot unwatch {DEFAULT_ROUTE_KEY}: unmatched categories "
                "would have no sink (set a new default with `watch` instead)")
        rows = self.list_routes()
        kept = [r for r in rows if r["route_key"] != route_key]
        if len(kept) == len(rows):
            return False
        self._write_routes(kept)
        return True

    # ---------------------------------------------------------- settings

    def settings_values(self) -> dict[str, str]:
        if not os.path.exists(self.settings_path):
            return {}
        t = pq.read_table(self.settings_path)
        return dict(zip(t.column("key").to_pylist(),
                        t.column("value").to_pylist()))

    def set(self, key: str, value: str) -> None:
        vals = self.settings_values()
        vals[key] = value
        keys = sorted(vals)
        _atomic_write(pa.table({"key": keys,
                                "value": [vals[k] for k in keys]}),
                      self.settings_path)

    def unset(self, key: str) -> bool:
        vals = self.settings_values()
        if key not in vals:
            return False
        del vals[key]
        keys = sorted(vals)
        _atomic_write(pa.table({"key": keys,
                                "value": [vals[k] for k in keys]}),
                      self.settings_path)
        return True


def route_rows(out_dir: str | None) -> list[dict]:
    """The routes a run under ``out_dir`` uses: its store's, else the seed."""
    return ConfigStore(out_dir).list_routes() if out_dir else routes_rows()
