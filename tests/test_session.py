"""Session sizing: the default driver heap follows what the host can
commit (no Spark session needed)."""

from tuplex_spark.context import _committable_bytes, _driver_memory_for

GIB = 1 << 30


class TestDefaultDriverMemory:
    def test_quarter_of_committable(self):
        assert _driver_memory_for(15 * GIB) == "3840m"
        assert _driver_memory_for(8 * GIB) == "2048m"

    def test_floor_and_cap(self):
        assert _driver_memory_for(2 * GIB) == "1024m"
        assert _driver_memory_for(0) == "1024m"
        assert _driver_memory_for(256 * GIB) == "16384m"

    def test_unknown_keeps_old_default(self):
        assert _driver_memory_for(None) == "16g"

    def _meminfo(self, tmp_path, kb):
        p = tmp_path / "meminfo"
        p.write_text(f"MemTotal:       99999999 kB\n"
                     f"MemFree:         1000000 kB\n"
                     f"MemAvailable:   {kb} kB\n")
        return str(p)

    def _cgroup(self, tmp_path, name, limit, usage):
        lim, use = tmp_path / f"{name}.limit", tmp_path / f"{name}.usage"
        lim.write_text(f"{limit}\n")
        use.write_text(f"{usage}\n")
        return str(lim), str(use)

    def test_meminfo_without_cgroup(self, tmp_path):
        mi = self._meminfo(tmp_path, 8 * 1024 * 1024)
        missing = (str(tmp_path / "nope"), str(tmp_path / "nope2"))
        assert _committable_bytes(mi, (missing,)) == 8 * GIB

    def test_cgroup_limit_caps_meminfo(self, tmp_path):
        mi = self._meminfo(tmp_path, 12 * 1024 * 1024)
        v2 = self._cgroup(tmp_path, "v2", 6 * GIB, 2 * GIB)
        assert _committable_bytes(mi, (v2,)) == 4 * GIB
        assert _driver_memory_for(_committable_bytes(mi, (v2,))) == "1024m"

    def test_unlimited_cgroup_leaves_meminfo(self, tmp_path):
        mi = self._meminfo(tmp_path, 12 * 1024 * 1024)
        v2 = self._cgroup(tmp_path, "v2", "max", 2 * GIB)
        v1 = self._cgroup(tmp_path, "v1", 2 * GIB, GIB)
        # the first readable cgroup (v2 here) decides; "max" is no cap
        assert _committable_bytes(mi, (v2, v1)) == 12 * GIB

    def test_v1_used_when_v2_missing(self, tmp_path):
        mi = self._meminfo(tmp_path, 12 * 1024 * 1024)
        missing = (str(tmp_path / "nope"), str(tmp_path / "nope2"))
        v1 = self._cgroup(tmp_path, "v1", 5 * GIB, GIB)
        assert _committable_bytes(mi, (missing, v1)) == 4 * GIB

    def test_no_meminfo_is_unknown(self, tmp_path):
        assert _committable_bytes(str(tmp_path / "nope")) is None
