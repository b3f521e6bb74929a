package graft

import graft.engine.GraftDB
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The reference's demo program (`main.rs:6-44`) re-run through this
  * engine's façade — the migration path for a reference user. Run with
  * `sbt "runMain graft.Demo"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val dir = Files.createDirectories(Paths.get("target", "demo-data"))
    Files.writeString(dir.resolve("test_data.csv"),
      "id,name,age,score\n1,veeupup,23,60.0\n2,alex,20,90.1\n4,lynne,18,99.99\n" +
        "5,alice,19,81.1\n6,bob,20,82.2\n7,jack,21,83.3\n8,cock,22,84.4\n9,primer,23,85.5\n")
    Files.writeString(dir.resolve("employee.csv"),
      "id,name,department_id,rank\n1,vee,1,1\n2,lynne,1,0\n3,Alex,2,0\n4,jack,2,1\n5,mike,3,2\n")
    Files.writeString(dir.resolve("rank.csv"),
      "id,rank_name\n0,master\n1,diamond\n2,grandmaster\n")
    Files.writeString(dir.resolve("department.csv"),
      "id,department_name\n1,IT\n2,Marketing\n3,Human Resource\n")

    val db = new GraftDB(spark)
    db.createCsvTable("t1", s"$dir/test_data.csv")
    db.createCsvTable("employee", s"$dir/employee.csv")
    db.createCsvTable("rank", s"$dir/rank.csv")
    db.createCsvTable("department", s"$dir/department.csv")

    println("== demo 1: select / filter / limit / offset (main.rs:12)")
    db.printResult(db.runSql(
      "select id, name, age + 100 from t1 where id < 9 order by id limit 3 offset 2"))

    println("== demo 2: three-way join (main.rs:20-29)")
    db.printResult(db.runSql(
      """select employee.id, employee.name, rank_name, department_name
        |from employee
        |join rank on employee.rank = rank.id
        |join department on employee.department_id = department.id
        |order by employee.id""".stripMargin))

    println("== demo 3: cross join (main.rs:32)")
    db.printResult(db.runSql("select * from employee cross join rank"))

    println("== demo 4: aggregate with expression group key (main.rs:36-40)")
    db.printResult(db.runSql(
      """select id % 3 as k, count(id), sum(age), sum(score), avg(score),
        |       max(score), min(score)
        |from t1 group by id % 3 order by k""".stripMargin))

    println("== builder API (dataframe.rs:152-182 shape)")
    db.table("t1")
      .filter(col("id") < 9)
      .project(col("id"), col("name"), (col("age") + 100).as("age_plus"))
      .sort(col("id"))
      .offset(2).limit(3)
      .show()

    spark.stop()
  }
}
