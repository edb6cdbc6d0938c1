"""Key naming normalization.

Reference behavior being reproduced (cites into /root/reference):
- every JSON key decamelized to snake_case at parse
  (seghouse/jobs/send_to_warehouse.py:338, via pyhumps.decamelize);
- keys cleaned: strip, spaces removed, ':' and '-' replaced with '_'
  (seghouse/util/json_util.py:23-24);
- namespace decamelized (seghouse/jobs/send_to_warehouse.py:97).

These are pure-Python renames applied to *schema names* in the driver
— zero per-row cost on executors, so they scale to any data size.
"""

from __future__ import annotations

import re

# pyhumps-style decamelize: "helloWorld" -> "hello_world",
# "APIResponse" -> "api_response", "mem2Disk" -> "mem2_disk"
_ACRONYM_RE = re.compile(r"([A-Z]+)([A-Z][a-z])")
_CAMEL_RE = re.compile(r"([a-z0-9])([A-Z])")


def decamelize(name: str) -> str:
    """camelCase/PascalCase -> snake_case (pyhumps.decamelize parity)."""
    s = _ACRONYM_RE.sub(r"\1_\2", name)
    s = _CAMEL_RE.sub(r"\1_\2", s)
    return s.lower()


def clean_key(name: str) -> str:
    """Reference key cleaning: strip, drop spaces, ':'/'-' -> '_'
    (json_util.py:23-24)."""
    return name.strip().replace(" ", "").replace(":", "_").replace("-", "_")


def normalize_key(name: str) -> str:
    """Full reference key pipeline: decamelize then clean."""
    return clean_key(decamelize(name))
