"""IP endpoint metadata: scope + path-locality classification.

Mirrors the reference's classification exactly
(/root/reference/rustiflow/src/flows/util.rs:64-145):
v4: broadcast > unspecified > loopback > link-local > private(RFC1918) >
shared(100.64/10) > multicast > global; v6: unspecified > loopback >
unicast link-local > unique-local > multicast > global.
"""

from __future__ import annotations

import ipaddress
from functools import lru_cache

LOCALISH = {"loopback", "link_local", "private", "shared"}


@lru_cache(maxsize=65536)
def ip_scope(ip_str: str) -> str:
    try:
        addr = ipaddress.ip_address(ip_str)
    except ValueError:
        # malformed address in the input table must not kill a 100 TB job;
        # 'unspecified' marks it without claiming a real scope
        return "unspecified"
    if addr.version == 4:
        if addr == ipaddress.IPv4Address("255.255.255.255"):
            return "broadcast"
        if addr.is_unspecified:
            return "unspecified"
        if addr.is_loopback:
            return "loopback"
        if addr.is_link_local:
            return "link_local"
        if _is_rfc1918(addr):  # Rust Ipv4Addr::is_private = RFC1918 only
            return "private"
        if _is_shared_v4(addr):
            return "shared"
        if addr.is_multicast:
            return "multicast"
        return "global"
    if addr.is_unspecified:
        return "unspecified"
    if addr.is_loopback:
        return "loopback"
    if _is_unicast_link_local_v6(addr):
        return "link_local"
    if _is_unique_local_v6(addr):
        return "private"
    if addr.is_multicast:
        return "multicast"
    return "global"


def _is_rfc1918(addr: ipaddress.IPv4Address) -> bool:
    return (
        addr in ipaddress.IPv4Network("10.0.0.0/8")
        or addr in ipaddress.IPv4Network("172.16.0.0/12")
        or addr in ipaddress.IPv4Network("192.168.0.0/16")
    )


def _is_shared_v4(addr: ipaddress.IPv4Address) -> bool:
    return addr in ipaddress.IPv4Network("100.64.0.0/10")


def _is_unicast_link_local_v6(addr: ipaddress.IPv6Address) -> bool:
    return addr in ipaddress.IPv6Network("fe80::/10") and not addr.is_multicast


def _is_unique_local_v6(addr: ipaddress.IPv6Address) -> bool:
    return addr in ipaddress.IPv6Network("fc00::/7")


def path_locality(src: str, dst: str) -> str:
    # flows/util.rs:71-97
    return locality_from_scopes(ip_scope(src), ip_scope(dst))


def locality_from_scopes(s: str, d: str) -> str:
    # path locality is a pure function of the two endpoint scopes — the
    # vectorized kernel builds an 8x8 lookup table from this
    if s == "multicast" or d == "multicast":
        return "multicast"
    if s == "loopback" and d == "loopback":
        return "loopback"
    if s == "link_local" and d == "link_local":
        return "link_local"
    s_local, d_local = s in LOCALISH, d in LOCALISH
    if s_local and d_local:
        return "private"
    if s_local != d_local:
        return "mixed"
    if s == "global" and d == "global":
        return "public"
    return "other"


def ip_version(ip_str: str) -> int:
    return 6 if ":" in ip_str else 4
