"""Registry-backed config publishing (reference: config_manager/rcm.go,
config_manager/nacos.go).

The reference's ``RemoteConfManager`` lets a fleet of sinker instances share
one config document and one task-assignment map through a registry (Nacos).
Semantics re-expressed here (same WHAT, Python/stdlib HOW):

* ``NacosClient`` — thin client for the public Nacos v1 open API
  (``/nacos/v1/cs/configs`` for config get/publish, ``/nacos/v1/ns/instance``
  for ephemeral service registration, beat and instance listing), stdlib
  ``urllib`` only, multi-server failover, optional ``/nacos/v1/auth/login``
  token auth.  No SDK dependency — the REST API is the documented public
  surface.
* ``NacosConfManager`` — parity with ``nacos.go:30-466``:
  - ``init(properties)`` takes the same property names the reference reads
    (``serverAddrs``, ``username``, ``password``, ``namespaceId``, ``group``,
    ``dataId``, ``serviceName``) (nacos.go:52-122).
  - ``get_config``/``publish_config`` move the whole config document
    (hjson-compatible in, canonical JSON out) (nacos.go:125-164).
  - ``register``/``deregister`` manage this instance's ephemeral service
    entry (nacos.go:166-196).
  - ``assign_once`` is the scheduler step (nacos.go:505-466 ``assign``):
    only the lexicographically-first live instance publishes; unchanged
    instances+tasks published by myself <10 min ago short-circuits; task →
    instance distribution is the shared snake/lag-rebalance math in
    ``assignment.py``; the published document carries
    ``assignment: {map, version, updatedBy, updatedAt}``.
  - ``run``/``stop`` — poll loop standing in for the SDK's config listener +
    service subscription (nacos.go:197-253): heartbeat, watch config content
    and instance list, re-assign on any change.

Lag-aware mode: the reference pulls consumer-group lags from Kafka admin
(``config_manager/lags.go``).  Here the lag snapshot is an injectable
callable (in deployment: a metrics store fed by every instance's query
progress), keeping this module transport-pure.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass, field
from typing import Protocol

from .assignment import assign_tasks, scheduler_instance
from .config_io import parse_hjson

__all__ = [
    "RemoteConfManager",
    "NacosClient",
    "NacosConfManager",
    "RegistryError",
]

ASSIGNMENT_FRESH_SECS = 600.0  # nacos.go:343 — "in less than 10 minutes"


class RegistryError(RuntimeError):
    """All servers failed, or the registry rejected the request."""


class RemoteConfManager(Protocol):
    """Parity with config_manager/rcm.go:8-19 (Nacos/Consul/etcd/ZK…)."""

    def init(self, properties: Mapping) -> None: ...

    def get_config(self) -> dict: ...

    def publish_config(self, conf: Mapping) -> None: ...

    def register(self, ip: str, port: int) -> None: ...

    def deregister(self, ip: str, port: int) -> None: ...

    def run(self) -> None: ...

    def stop(self) -> None: ...


def _instance_id(ip: str, port: int) -> str:
    return f"{ip}:{port}"  # nacos.go:48-50 toInstanceID


class NacosClient:
    """Minimal Nacos v1 open-API client (stdlib urllib, no SDK).

    ``server_addrs`` accepts "host", "host:port" or a comma-separated list;
    default port 8848 (nacos.go:53-68).  Every call tries each server in
    order and raises ``RegistryError`` only when all fail.
    """

    def __init__(
        self,
        server_addrs: str | Sequence[str],
        username: str = "",
        password: str = "",
        namespace_id: str = "",
        timeout: float = 5.0,
    ):
        if isinstance(server_addrs, str):
            server_addrs = [a.strip() for a in server_addrs.split(",") if a.strip()]
        self.bases: list[str] = []
        for addr in server_addrs:
            if "://" in addr:
                self.bases.append(addr.rstrip("/"))
            else:
                host, _, port = addr.partition(":")
                self.bases.append(f"http://{host}:{port or 8848}")
        if not self.bases:
            raise ValueError("no nacos server addresses")
        self.username = username
        self.password = password
        self.namespace_id = namespace_id
        self.timeout = timeout
        self._token: str | None = None

    # -- transport --------------------------------------------------------

    def _request(self, method: str, path: str, params: dict) -> str:
        params = {k: v for k, v in params.items() if v is not None}
        if self.namespace_id:
            params.setdefault("namespaceId", self.namespace_id)
            params.setdefault("tenant", self.namespace_id)
        if self._token:
            params["accessToken"] = self._token
        body = urllib.parse.urlencode(params)
        last_err: Exception | None = None
        for base in self.bases:
            url = f"{base}{path}"
            if method in ("GET", "DELETE"):
                url = f"{url}?{body}"
                data = None
            else:
                data = body.encode()
            req = urllib.request.Request(url, data=data, method=method)
            req.add_header("Content-Type", "application/x-www-form-urlencoded")
            try:
                with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                    return resp.read().decode()
            except urllib.error.HTTPError as e:
                if e.code == 404:
                    raise KeyError(path) from e
                last_err = e
            except OSError as e:  # connection refused / timeout → next server
                last_err = e
        raise RegistryError(f"all nacos servers failed for {method} {path}: {last_err}")

    def login(self) -> None:
        """POST /nacos/v1/auth/login → accessToken (only when creds set)."""
        if not self.username:
            return
        out = self._request(
            "POST",
            "/nacos/v1/auth/login",
            {"username": self.username, "password": self.password},
        )
        self._token = json.loads(out).get("accessToken")

    # -- config API (/nacos/v1/cs/configs) --------------------------------

    def get_config(self, data_id: str, group: str) -> str | None:
        try:
            return self._request(
                "GET", "/nacos/v1/cs/configs", {"dataId": data_id, "group": group}
            )
        except KeyError:
            return None

    def publish_config(self, data_id: str, group: str, content: str) -> None:
        out = self._request(
            "POST",
            "/nacos/v1/cs/configs",
            {"dataId": data_id, "group": group, "content": content},
        )
        if out.strip() not in ("true", "ok", "OK"):
            raise RegistryError(f"publish_config rejected: {out!r}")

    # -- naming API (/nacos/v1/ns/instance) -------------------------------

    def register_instance(self, ip: str, port: int, service: str, group: str) -> None:
        self._request(
            "POST",
            "/nacos/v1/ns/instance",
            {
                "ip": ip,
                "port": port,
                "serviceName": service,
                "groupName": group,
                # nacos.go:170-175: Enable/Healthy/Ephemeral all true
                "ephemeral": "true",
                "healthy": "true",
                "enabled": "true",
            },
        )

    def deregister_instance(self, ip: str, port: int, service: str, group: str) -> None:
        self._request(
            "DELETE",
            "/nacos/v1/ns/instance",
            {
                "ip": ip,
                "port": port,
                "serviceName": service,
                "groupName": group,
                "ephemeral": "true",
            },
        )

    def beat(self, ip: str, port: int, service: str, group: str) -> None:
        """PUT /nacos/v1/ns/instance/beat — keeps the ephemeral entry alive."""
        self._request(
            "PUT",
            "/nacos/v1/ns/instance/beat",
            {
                "serviceName": service,
                "groupName": group,
                "beat": json.dumps(
                    {"ip": ip, "port": port, "serviceName": service, "scheduled": True}
                ),
            },
        )

    def list_instances(self, service: str, group: str) -> list[str]:
        """Healthy instances as sorted "ip:port" (nacos.go:317-326)."""
        try:
            out = self._request(
                "GET",
                "/nacos/v1/ns/instance/list",
                {"serviceName": service, "groupName": group, "healthyOnly": "true"},
            )
        except KeyError:
            return []
        hosts = json.loads(out).get("hosts", [])
        return sorted(
            _instance_id(h["ip"], int(h["port"]))
            for h in hosts
            if h.get("healthy", True) and h.get("enabled", True)
        )


@dataclass
class NacosConfManager:
    """Registry-backed scheduler/publisher (nacos.go:30-466 semantics)."""

    client: NacosClient | None = None
    group: str = "DEFAULT_GROUP"  # nacos.go:73 — empty group doesn't work
    data_id: str = ""
    service_name: str = ""
    instance: str = ""  # ip:port once registered
    # injectable lag snapshot: config dict -> {task: lag}; None = no lag mode
    lag_provider: Callable[[dict], Mapping[str, int]] | None = None
    # clock injection for deterministic freshness tests
    clock: Callable[[], float] = time.time

    _cur_insts: list[str] = field(default_factory=list)
    _cur_tasks: list[dict] = field(default_factory=list)
    _cur_ver: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _stop_evt: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None
    _registered: list[tuple[str, int]] = field(default_factory=list)

    # -- RemoteConfManager surface ----------------------------------------

    def init(self, properties: Mapping) -> None:
        """Same property names the reference reads (nacos.go:52-122)."""
        self.client = NacosClient(
            properties["serverAddrs"],
            username=str(properties.get("username", "") or ""),
            password=str(properties.get("password", "") or ""),
            namespace_id=str(properties.get("namespaceId", "") or ""),
        )
        self.group = str(properties.get("group") or "DEFAULT_GROUP")
        self.data_id = str(properties.get("dataId", "") or "")
        self.service_name = str(properties.get("serviceName", "") or "")
        self.client.login()

    def get_config(self) -> dict:
        """Config document as a dict (hjson-compatible; nacos.go:125-140)."""
        content = self.client.get_config(self.data_id, self.group)
        if content is None:
            raise RegistryError(f"no config for dataId={self.data_id!r}")
        return parse_hjson(content)

    def publish_config(self, conf: Mapping) -> None:
        """Publish the whole document as canonical JSON (nacos.go:142-164;
        JSON is valid hjson, so reference instances could read it back)."""
        self.client.publish_config(
            self.data_id, self.group, json.dumps(conf, indent=2, sort_keys=True)
        )

    def register(self, ip: str, port: int) -> None:
        self.client.register_instance(ip, port, self.service_name, self.group)
        self.instance = _instance_id(ip, port)  # nacos.go:179
        self._registered.append((ip, port))

    def deregister(self, ip: str, port: int) -> None:
        self.client.deregister_instance(ip, port, self.service_name, self.group)
        self._registered = [(i, p) for (i, p) in self._registered if (i, p) != (ip, port)]

    # -- scheduler step ----------------------------------------------------

    def assign_once(self) -> dict | None:
        """One pass of the reference's ``assign`` (nacos.go:505-466).

        Returns the newly-published config dict, or None when this instance
        is not the scheduler / the published assignment is still fresh.
        """
        with self._lock:
            insts = self.client.list_instances(self.service_name, self.group)
            # Only the first (sorted) live instance assigns (nacos.go:329-332)
            if not insts or scheduler_instance(insts) != self.instance:
                return None

            conf = self.get_config()
            tasks = self._task_list(conf)
            task_names = [t["name"] for t in tasks]
            asg = conf.get("assignment") or {}

            # Freshness short-circuit (nacos.go:339-346): same instances,
            # same tasks, published by me, less than 10 minutes old.
            if (
                insts == self._cur_insts
                and tasks == self._cur_tasks
                and asg.get("updatedBy") == self.instance
                and self.clock() - float(asg.get("updatedAt", 0)) < ASSIGNMENT_FRESH_SECS
            ):
                return None

            lags = None
            if self.lag_provider is not None and self._rebalance_by_lags(conf):
                # unknown tasks default to lag 0 inside assign_tasks
                lags = dict(self.lag_provider(conf))
            plan = assign_tasks(task_names, insts, lags)

            new_ver = int(asg.get("version", self._cur_ver)) + 1
            conf["assignment"] = {
                "map": {i: plan.get(i, []) for i in insts},
                "version": new_ver,
                "updatedBy": self.instance,
                "updatedAt": int(self.clock()),
            }
            self.publish_config(conf)
            self._cur_insts = insts
            self._cur_tasks = tasks
            self._cur_ver = new_ver
            return conf

    # -- watch loop --------------------------------------------------------

    def run(self, poll_interval: float = 2.0) -> None:
        """Start the background scheduler loop: heartbeat registered
        instances, watch config content + instance list, re-assign on any
        change (stands in for the SDK listener/subscription,
        nacos.go:197-253)."""
        if self._thread is not None:
            return
        self._stop_evt.clear()
        self._thread = threading.Thread(
            target=self._loop, args=(poll_interval,), daemon=True
        )
        self._thread.start()

    def stop(self) -> None:
        self._stop_evt.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None

    def _loop(self, poll_interval: float) -> None:
        last_seen: tuple[str | None, tuple[str, ...]] | None = None
        while not self._stop_evt.is_set():
            try:
                for ip, port in list(self._registered):
                    self.client.beat(ip, port, self.service_name, self.group)
                content = self.client.get_config(self.data_id, self.group)
                insts = tuple(self.client.list_instances(self.service_name, self.group))
                seen = (content, insts)
                if seen != last_seen:
                    self.assign_once()
                    last_seen = seen
            except Exception:  # noqa: BLE001 — the daemon loop must survive
                # anything: a registry outage (RegistryError), a malformed
                # published config (parse error), unexpected JSON.  Dying
                # here would stop heartbeats → the ephemeral entry expires
                # → tasks get REASSIGNED while this instance still runs
                # them (double consumption).  The reference's SDK listener
                # likewise logs and keeps going.
                last_seen = None  # re-evaluate once the registry recovers
            self._stop_evt.wait(poll_interval)

    # -- helpers -----------------------------------------------------------

    @staticmethod
    def _task_list(conf: Mapping) -> list[dict]:
        tasks = list(conf.get("tasks") or [])
        if not tasks and conf.get("task"):
            tasks = [conf["task"]]  # single-task form (config/config.go)
        return tasks

    @staticmethod
    def _rebalance_by_lags(conf: Mapping) -> bool:
        kafka = conf.get("kafka") or {}
        for k in ("rebalanceByLags", "rebalance_by_lags"):
            if k in kafka:
                return bool(kafka[k])
        return False

    def assigned_tasks(self, conf: Mapping | None = None) -> list[str]:
        """This instance's share per the published assignment map — what a
        non-scheduler instance reads back after the scheduler publishes."""
        conf = conf if conf is not None else self.get_config()
        return list((conf.get("assignment") or {}).get("map", {}).get(self.instance, []))
